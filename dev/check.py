#!/usr/bin/env python3
"""Dev-loop correctness check mimicking the driver's DuckDB oracle gate.

Usage: python3 dev/check.py [sfDir] [outDir] [--skip-verify] [names...]
       python3 dev/check.py --selftest

Runs graft.Verify (unless --skip-verify), then for each query: loads the
Spark parquet dump and the DuckDB oracle result, sorts columns by name and
rows by all values, and compares cell-by-cell (exact; floats reported with
diff magnitude when mismatched).

On ANY mismatch a forensic diff file is written to target/verify_diff/
<name>.txt with the first differing rows from BOTH engines — so a red row
always leaves a trail (the round-4 q_kmeans mismatch had none).
--selftest plants an intentional one-cell mismatch through the same diff
writer and asserts the file appears with the planted values (exit 0 = ok).
"""
import json, math, subprocess, sys, time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
DIFF_DIR = REPO / "target" / "verify_diff"
TESTDATA = Path("/root/testdata")  # harness data, one sf<scale> dir each


def write_diff(name, kind, detail, s=None, d=None, max_rows=5):
    """Forensic dump for a failed compare: `kind` is the failure class
    (columns/rows/cells), `detail` the one-line summary, and s/d the
    column-sorted, row-sorted frames (when both loaded) from which the
    first `max_rows` differing rows of each engine are recorded."""
    DIFF_DIR.mkdir(parents=True, exist_ok=True)
    lines = [f"query={name}", f"kind={kind}", f"detail={detail}"]
    if s is not None and d is not None and list(s.columns) == list(d.columns):
        n = min(len(s), len(d))
        shown = 0
        for i in range(n):
            rs, rd = list(s.iloc[i]), list(d.iloc[i])
            same = all(
                (a == b) or (isinstance(a, float) and isinstance(b, float)
                             and math.isnan(a) and math.isnan(b))
                for a, b in zip(rs, rd))
            if same:
                continue
            lines.append(f"row {i} spark: {rs}")
            lines.append(f"row {i} duck : {rd}")
            shown += 1
            if shown >= max_rows:
                break
        for i in range(n, min(len(s), n + max_rows)):
            lines.append(f"row {i} spark only: {list(s.iloc[i])}")
        for i in range(n, min(len(d), n + max_rows)):
            lines.append(f"row {i} duck only : {list(d.iloc[i])}")
    p = DIFF_DIR / f"{name}.txt"
    p.write_text("\n".join(lines) + "\n")
    return p


def selftest():
    import pandas as pd
    name = "selftest_planted"
    s = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    d = pd.DataFrame({"k": [1, 2, 3], "v": [10, 99, 30]})
    p = write_diff(name, "cells", "planted one-cell mismatch", s, d)
    txt = p.read_text()
    assert "99" in txt and "20" in txt and "kind=cells" in txt, txt
    # row-count mismatch shape: extra rows are listed per engine
    d2 = pd.DataFrame({"k": [1, 2, 3, 4], "v": [10, 20, 30, 40]})
    p2 = write_diff(name + "_rows", "rows", "spark=3 duck=4", s, d2)
    assert "duck only" in p2.read_text(), p2.read_text()
    print("selftest ok:", p, p2)
    sys.exit(0)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def arrow_kind(t):
    """decimal / float / int / other, from a pyarrow type."""
    s = str(t)
    if s.startswith("decimal"): return "decimal"
    if s.startswith(("float", "double", "halffloat")): return "float"
    if s.startswith(("int", "uint")): return "int"
    return "other"


def duck_kind(t):
    """The same kinds from a DuckDB column type, as its Arrow export
    spells it (HUGEINT leaves DuckDB as decimal128(38, 0))."""
    s = str(t)
    if s.startswith("DECIMAL") or s in ("HUGEINT", "UHUGEINT"): return "decimal"
    if s in ("DOUBLE", "FLOAT", "REAL"): return "float"
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"): return "int"
    return "other"


def compare(con, name, sql, res_dir):
    """Compares one query's Spark dump with its oracle result: prints the
    verdict line, writes a forensic diff on a mismatch, returns the pass."""
    if not res_dir.exists():
        print(f"[MISS] {name}: no spark output"); return False
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
        # the oracle runs once: its column types come from the bound
        # relation, which binds the query without running it
        rel = con.sql(sql)
        duck_types = dict(zip(rel.columns, rel.types))
        duck_df = rel.df()
    except Exception as e:
        print(f"[ERR ] {name}: {e}"); return False

    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        print(f"[FAIL] {name}: columns spark={sc} duck={dc}")
        write_diff(name, "columns", f"spark={sc} duck={dc}")
        return False
    # PHYSICAL-TYPE drift check (the q_smoothed_rate class): a result
    # hash that reads the Spark parquet with pyarrow and the oracle via
    # its own DuckDB sees the physical types, so a decimal column on one side and a double on
    # the other hash-mismatches even when every cell compares equal.
    # Our pandas path coerces both sides identically and hides it —
    # so compare the raw types explicitly and fail on any
    # decimal-vs-floating (or decimal-vs-anything-nonint) pairing.
    try:
        import pyarrow.parquet as pq
        import glob as _glob
        sp_schema = pq.ParquetDataset(
            _glob.glob(f"{res_dir}/*.parquet")).schema
        tbad = []
        for cname in sc:
            ts, td = sp_schema.field(cname).type, duck_types[cname]
            ks, kd = arrow_kind(ts), duck_kind(td)
            # decimal-vs-float (q_smoothed_rate) AND int-vs-float
            # (q_mannwhitney's `/`-typed u1) both hash-differ under such
            # a hash even when every cell compares equal under
            # pandas coercion — any cross-kind float pairing fails
            if ks != kd and "float" in (ks, kd):
                tbad.append((cname, str(ts), str(td)))
            elif ks != kd and "decimal" in (ks, kd):
                # integral-vs-decimal hashes the same today,
                # but a >2^53 decimal is an exactness hazard — warn
                print(f"[warn] {name}: {cname} spark={ts} duck={td}")
        if tbad:
            print(f"[FAIL] {name}: type drift {tbad}")
            write_diff(name, "types", f"decimal-vs-float drift: {tbad}")
            return False
    except Exception as e:
        print(f"[warn] {name}: type check skipped: {e}")
    s = spark_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
    d = duck_df[dc].sort_values(dc, kind="mergesort").reset_index(drop=True)
    if len(s) != len(d):
        print(f"[FAIL] {name}: rows spark={len(s)} duck={len(d)}")
        write_diff(name, "rows", f"spark={len(s)} duck={len(d)}", s, d)
        return False
    bad = []
    for c in sc:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)):
                    continue
                bad.append((c, i, a, b, abs(a - b)))
            else:
                bad.append((c, i, a, b, None))
            if len(bad) > 3:
                break
        if len(bad) > 3:
            break
    if bad:
        print(f"[FAIL] {name}: {len(s)} rows, first diffs: {bad[:3]}")
        write_diff(name, "cells", f"first diffs: {bad[:3]}", s, d)
        return False
    print(f"[ok  ] {name}: {len(s)} rows")
    return True


def main():
    if "--selftest" in sys.argv:
        selftest()
    import duckdb
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else str(TESTDATA / "sf0.01")
    out_dir = args[1] if len(args) > 1 else str(REPO / "target" / "verify_out")
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        # named queries propagate to Verify so the dev loop dumps only
        # those (the driver names none and dumps the full catalog)
        names = " ".join(sorted(only))
        r = subprocess.run(
            ["sbt", "-batch",
             f'runMain graft.Verify {sf_dir} {out_dir} {names}'.strip()],
            cwd=REPO, capture_output=True, text=True)
        sys.stdout.write("\n".join(r.stdout.splitlines()[-15:]) + "\n")
        if r.returncode != 0:
            print("VERIFY FAILED"); print(r.stderr[-3000:]); sys.exit(1)

    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    t_start = time.perf_counter()
    runs = {}
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        runs[name] = (compare(con, name, sql, Path(out_dir) / name),
                         time.perf_counter() - t0)
    n_pass = sum(ok for ok, _ in runs.values())
    n_fail = len(runs) - n_pass
    print(f"\n{n_pass} pass, {n_fail} fail")
    slowest = sorted(runs.items(), key=lambda kv: -kv[1][1])[:5]
    print(f"compare: {time.perf_counter() - t_start:.1f} s; slowest: "
          + ", ".join(f"{n} {t:.1f} s" for n, (_, t) in slowest))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
