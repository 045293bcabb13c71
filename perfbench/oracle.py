"""Output check: the benchmark JVM's kept outputs against DuckDB.

The oracle SQL is graft's own (SparkEntry.oracleSql, exported by the
benchmark JVM into check/oracle.json) and runs over the same generated inputs.
Parquet outputs compare as multisets inside DuckDB (EXCEPT ALL both
ways); the collected outputs of iterative_fit compare row by row after
sorting. `check` returns a list of mismatch descriptions, empty when
every output matches.
"""
import json
import math
import re
from pathlib import Path

import duckdb


def bpe_sql(k8: str, k: int) -> str:
    """The k-round BPE replay, derived from the k=8 oracle text.

    The oracle unrolls one CTE trio (p_i, t_i, w_{i+1}) per merge round
    and unions one SELECT per t_i. Round 0 and the first union member
    are re-numbered for rounds 0..k-1; regenerating k=8 must give the
    original text back, so a changed oracle layout fails loudly.
    """
    head_end = k8.index("\n,p0 AS (")
    r0 = k8[head_end:k8.index("\n,p1 AS (")]
    sel_start = k8.index("\nSELECT * FROM (")
    member = k8[sel_start + len("\nSELECT * FROM ("):k8.index(" UNION ALL ")]

    def rounds(n):
        def one(i):
            s = re.sub(r"\bw1\b", f"w{i + 1}", r0)
            for old, new in (("w0", f"w{i}"), ("p0", f"p{i}"), ("t0", f"t{i}")):
                s = re.sub(rf"\b{old}\b", new, s)
            return s
        sel = " UNION ALL ".join(
            member.replace("CAST(1 AS BIGINT)", f"CAST({i + 1} AS BIGINT)")
            .replace("FROM t0", f"FROM t{i}") for i in range(n))
        return (k8[:head_end] + "".join(one(i) for i in range(n)) +
                f"\nSELECT * FROM ({sel}) ORDER BY merge_rank")

    if rounds(8) != k8:
        raise ValueError("text_bpe_merges oracle layout changed; cannot derive k rounds")
    return rounds(k)


def materialized(sql: str) -> str:
    """Mark every CTE without a column list MATERIALIZED.

    DuckDB inlines a CTE into each of its references. In the BPE replay
    each w_i feeds two CTEs, and in the corpus pipeline most stages
    feed two or three, so the inlined plans repeat their inputs'
    work exponentially in depth: the pipeline oracle did not finish
    within 60 s on 100 documents, and finishes in 2 s on 5,000 once
    materialized. The pipeline's recursive CTE carries a column list
    and stays as it is.
    """
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check(inputs: Path, check_dir: Path, bpe_k: int):
    oracles = json.loads((check_dir / "oracle.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(inputs.glob("*.parquet")):
        con.execute(f"CREATE TABLE {p.stem} AS SELECT * FROM read_parquet('{p}')")
    collected = {}
    jl = check_dir / "iterative_fit.jsonl"
    if jl.exists():
        for line in jl.read_text().splitlines():
            o = json.loads(line)
            collected[o["name"]] = o
    bad = []
    for name, sql in sorted(oracles.items()):
        if name == "text_bpe_merges":
            sql = bpe_sql(sql, bpe_k)
        sql = materialized(sql)
        if name in collected:
            got = collected[name]
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            want = rel.fetchall()
            if cols != got["columns"]:
                bad.append(f"{name}: columns {got['columns']} vs oracle {cols}")
                continue
            key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
            rows, ref = sorted(got["rows"], key=key), sorted(want, key=key)
            if len(rows) != len(ref) or not all(
                    all(_same(x, y) for x, y in zip(r, o)) for r, o in zip(rows, ref)):
                bad.append(f"{name}: {len(rows)} rows differ from the oracle's {len(ref)}: "
                           f"{rows[:3]} vs {ref[:3]}")
            continue
        out = check_dir / name
        if not out.is_dir():
            bad.append(f"{name}: no output kept")
            continue
        con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
        con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{out}/*.parquet')")
        gc = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
        wc = sorted(r[0] for r in con.execute("DESCRIBE want").fetchall())
        if gc != wc:
            bad.append(f"{name}: columns {gc} vs oracle {wc}")
            continue
        cols = ", ".join(f'"{c}"' for c in wc)
        n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                         for t in ("got", "want"))
        extra, missing = (con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})"
        ).fetchone()[0] for a, b in (("got", "want"), ("want", "got")))
        if n_got != n_want or extra or missing:
            bad.append(f"{name}: {n_got} rows vs oracle {n_want}; "
                       f"{extra} unexpected, {missing} missing")
    con.close()
    return bad
