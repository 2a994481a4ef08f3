"""Answer checks for the benchmark, run outside the timed window.

Every query's answer (the parquet the runner's verify pass wrote) is
compared with its DuckDB twin from `SparkEntry.oracleSql`, run over the same
generated files: same columns, same row count, and equal cells after
sorting both sides by every column. For wordcount the global top-20 is also
compared with the generator's exact token frequencies.
"""
import json
from pathlib import Path

import duckdb

TABLES = ("documents", "lineitem")


def _rows(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    quoted = ", ".join('"' + c + '"' for c in cols)
    rows = con.sql(f"SELECT {quoted} FROM ({sql})").fetchall()
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(type(x)), x)
                                                  for x in r))


def _diff(spark, duck):
    (sc, sr), (dc, dr) = spark, duck
    if sc != dc:
        return f"columns spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return f"rows spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            return f"row {i} spark={a} duckdb={b}"
    return None


def verify(workload, data, answers, oracle, queries, plant_wrong=False, skip=()):
    """Return {query: reason} for every query whose answer is wrong."""
    data, answers = Path(data), Path(answers)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        if (data / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data / t}.parquet')")
    wrong = {}
    for q in queries:
        if q in skip:
            continue
        sql = oracle.get(q)
        got = answers / q
        if not sql:
            wrong[q] = "no DuckDB twin in SparkEntry.oracleSql"
            continue
        if not got.exists():
            wrong[q] = "no answer written"
            continue
        try:
            spark = _rows(con, f"SELECT * FROM read_parquet('{got}/*.parquet')")
            duck = _rows(con, sql)
        except duckdb.Error as e:
            wrong[q] = f"comparison failed: {e}"
            continue
        if plant_wrong and q == queries[0]:
            duck = (duck[0], duck[1] + [tuple("planted" for _ in duck[0])])
        if d := _diff(spark, duck):
            wrong[q] = f"differs from DuckDB twin: {d}"
    if workload == "wordcount" and "q_topk" in queries and "q_topk" not in wrong \
            and "q_topk" not in skip:
        top = json.loads((data / "freq.json").read_text())["top"][:20]
        if plant_wrong:
            top[0] = [top[0][0], top[0][1] + 1]
        got = con.sql(f"SELECT word, cnt FROM read_parquet('{answers}/q_topk/*.parquet') "
                      "ORDER BY cnt DESC, word").fetchall()
        if [tuple(x) for x in top] != got:
            wrong["q_topk"] = (f"differs from generator frequencies: "
                               f"expected {top[:3]}... got {got[:3]}...")
    con.close()
    return wrong
