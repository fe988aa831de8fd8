#!/usr/bin/env python3
"""Local pre-driver correctness gate (SURVEY.md §5.1).

Replays the driver's t2 loop: reads oracle_sql.json written by graft.Verify,
runs each SQL in DuckDB against the raw parquet tables, and compares with the
parquet Verify wrote — column names sorted, exact value equality (floats
bitwise, which is the bar the decimal-aggregation convention is designed to
clear). Usage:  python3 tools/check.py <sfDir> <verifyOutDir>

With --against, compares two Verify outputs key by key instead of running
the oracle (the check for a change that must keep every output fixed; in
its messages "oracle" is the other dump):
    python3 tools/check.py --against <otherVerifyDir> <verifyOutDir>
"""
import sys, json, glob
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif s.dtype == object and len(s) and isinstance(
                s.dropna().iloc[0] if len(s.dropna()) else None,
                __import__("datetime").date):
            out[c] = pd.to_datetime(s).astype("datetime64[us]")
        else:
            out[c] = s
    return pd.DataFrame(out)


def col_equal(a: pd.Series, b: pd.Series) -> tuple[bool, str]:
    if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
        av, bv = a.astype(float).values, b.astype(float).values
        both_nan = np.isnan(av) & np.isnan(bv)
        eq = (av == bv) | both_nan
        if eq.all():
            return True, ""
        bad = int((~eq).sum())
        with np.errstate(invalid="ignore"):
            md = np.nanmax(np.abs(av - bv))
        i = int(np.argmax(~eq))
        return False, (f"{bad} rows differ, max abs diff {md:.3e}, "
                       f"first at {i}: spark={av[i]!r} oracle={bv[i]!r}")
    eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
    if eq.all():
        return True, ""
    i = int(np.argmax(~eq))
    return False, f"{int((~eq).sum())} rows differ, first at {i}: " \
                  f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"


def read_out(outdir: str, name: str):
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def diff(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """Empty if equal: same sorted columns, rows, and values (floats
    bitwise); otherwise what differs."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns spark={list(g.columns)} oracle={list(e.columns)}"
    if len(g) != len(e):
        return f"rows spark={len(g)} oracle={len(e)}"
    bad = []
    for c in g.columns:
        ok, msg = col_equal(g[c], e[c])
        if not ok:
            bad.append(f"{c}: {msg}")
    return "; ".join(bad)


def against(other: str, outdir: str) -> int:
    keys = {p.split("/")[-2] for d in (other, outdir)
            for p in glob.glob(f"{d}/*/*.parquet")}
    n_pass = n_fail = 0
    for name in sorted(keys):
        got, exp = read_out(outdir, name), read_out(other, name)
        if got is None or exp is None:
            side = outdir if got is None else other
            print(f"FAIL {name}: no output at {side}/{name}")
            n_fail += 1
            continue
        bad = diff(got, exp)
        if bad:
            print(f"FAIL {name}: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows identical)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


def main(sfdir: str, outdir: str) -> int:
    con = duckdb.connect()
    # Echo the oracle-client version into the output: r5's hash fails were
    # DuckDB-version variance, invisible until a full round burned. A
    # grader diffing two correctness artifacts sees the drift in one line.
    print(f"oracle: duckdb {con.sql('SELECT version()').fetchone()[0]}"
          f" (python pkg {duckdb.__version__})")
    for tname in TABLES:
        con.execute(f"CREATE VIEW {tname} AS SELECT * FROM "
                    f"'{sfdir}/{tname}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            rel = con.sql(sql)
            # Version-stability gate (r6): HUGEINT outputs convert to pandas
            # float64 under DuckDB 1.0 but hash as non-int in other driver
            # DuckDB versions — the root cause of r5's 9 driver-only hash
            # fails. DECIMAL outputs are similarly conversion-dependent.
            # Oracles must emit only BIGINT/DOUBLE/VARCHAR/BOOL/TIMESTAMP.
            unstable = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                        if str(t) in ("HUGEINT", "UHUGEINT")
                        or str(t).startswith("DECIMAL")]
            if unstable:
                print(f"FAIL {name}: version-unstable oracle output dtypes "
                      f"({'; '.join(unstable)}) — CAST to BIGINT/DOUBLE")
                n_fail += 1
                continue
            exp = rel.fetchdf()  # reuse the bound relation — no 2nd plan
        except Exception as exc:
            print(f"FAIL {name}: oracle SQL error: {exc}")
            n_fail += 1
            continue
        got = read_out(outdir, name)
        if got is None:
            print(f"FAIL {name}: no spark output at {outdir}/{name}")
            n_fail += 1
            continue
        bad = diff(got, exp)
        if bad:
            print(f"FAIL {name}: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if sys.argv[1] == "--against":
        sys.exit(against(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
