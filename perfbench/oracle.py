"""Per-job output check against each row's DuckDB oracle.

The oracle SQL is `SparkEntry.oracleSql(row)`, which the harness dumps
to `oracle_sql.json`. Answers are cached per input set (so per seed) as
parquet. A job's sink is read part file by part file in name order,
which is the order `coalesce(1)` would give, columns are sorted by name
and every value must match exactly. The reference's Output step is
checked against the `wordcount` oracle plus the reducer bucket formula.
"""
import glob
import hashlib
import os
import re

import duckdb
import pandas as pd

OUTPUT_ROW = "wordcount_output"
OUTPUT_REDUCERS = 9


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        files = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{files}')")
    return con


def answer(con, sql, cache_dir):
    """The oracle's result for `sql`, computed once per input set."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".parquet")
    if not os.path.exists(path):
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT parquet)")
        os.replace(path + ".tmp", path)
    return con.sql(f"SELECT * FROM read_parquet('{path}')").df()


def same_frame(got, exp):
    """None when equal, else a one-line reason."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            same = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
        except (TypeError, ValueError):
            same = a.astype(str).values == b.astype(str).values
        if not bool(same.all()):
            i = int((~same).nonzero()[0][0])
            return f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def read_sink(con, sink):
    files = sorted(glob.glob(os.path.join(sink, "*.parquet")))
    if not files:
        return None
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


def bucket_of(word, r=OUTPUT_REDUCERS):
    """The reference partitioner: pmod(ascii(first char) - 65, r)."""
    return (ord(word[0]) - 65) % r


def check_output_step(sink, counts):
    """Reducer files hold `word cnt` lines, sorted by word, in the right bucket."""
    seen = []
    for d in sorted(glob.glob(os.path.join(sink, "bucket=*"))):
        k = int(re.search(r"bucket=(-?\d+)$", d).group(1))
        for f in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(f, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            words = [ln.rsplit(" ", 1)[0] for ln in lines]
            if words != sorted(words):
                return f"bucket {k}: lines not sorted by word"
            for ln, w in zip(lines, words):
                if bucket_of(w) != k:
                    return f"word {w!r} in bucket {k}, expected {bucket_of(w)}"
                seen.append((w, int(ln.rsplit(" ", 1)[1])))
    got = pd.DataFrame(seen, columns=["word", "cnt"]).sort_values("word", kind="stable")
    exp = counts[["word", "cnt"]].sort_values("word", kind="stable")
    return same_frame(got, exp)


def check_rows(data_dir, sink_root, oracle_sql, rows, cache_dir):
    """{row: None if the sink matches its oracle, else the reason}."""
    con = connect(data_dir)
    out = {}
    for row in rows:
        try:
            if row == OUTPUT_ROW:
                counts = answer(con, oracle_sql["wordcount"], cache_dir)
                out[row] = check_output_step(os.path.join(sink_root, row), counts)
                continue
            got = read_sink(con, os.path.join(sink_root, row))
            if got is None:
                out[row] = "no output"
                continue
            out[row] = same_frame(got, answer(con, oracle_sql[row], cache_dir))
        except Exception as e:  # a failing oracle fails its row, not the run
            out[row] = f"{type(e).__name__}: {str(e)[:300]}"
    con.close()
    return out
