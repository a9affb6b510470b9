"""Correctness checks of one benchmark run, made after the timed phase.

Every op kind's result, as the benchmark JVM wrote it under `out/<kind>`, is
compared with DuckDB running an independent query over the same generated
files:
  - the Phoenix programs against a DuckDB word count, top-K and inverted
    index written here;
  - registry keys against the registry's own oracle SQL
    (`SparkEntry.oracleSql`, dumped by the JVM to `oracle_sql.json`);
  - each trickle store against the oracle of its batch twin, over the
    bootstrap file plus exactly the delta files the run delivered.
"""
import json
import math
import os

import duckdb
import pyarrow as pa

PHOENIX_SQL = {
    "wordcount": "SELECT word, count(*) AS cnt FROM clean GROUP BY word "
                 "ORDER BY cnt ASC, word DESC",
    "topk": "SELECT word, count(*) AS cnt FROM clean GROUP BY word "
            "ORDER BY cnt DESC, word DESC LIMIT 50",
    "invert": "SELECT word, string_agg(CAST(line AS VARCHAR), ',' ORDER BY line) AS postings, "
              "count(*) AS n_lines FROM (SELECT DISTINCT line, word FROM clean) "
              "GROUP BY word ORDER BY word",
}

# trickle key -> the input table its stream reads
TRICKLE_INPUT = {"s18_label_maintenance": "embeddings", "s22_asof_disordered": "events"}


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_canon(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], rows


def compare(con, got_path, want_sql, ordered=True):
    """None when the parquet result at `got_path` equals `want_sql`'s
    result (column names, row count and values; in order when `ordered`),
    else a one-line description of the first difference."""
    gcols, grows = _fetch(con, f"SELECT * FROM read_parquet('{got_path}/*.parquet')")
    wcols, wrows = _fetch(con, want_sql)
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} vs {len(wrows)}"
    if not ordered:
        key = lambda r: tuple((x is None, str(type(x)), x if x is not None else 0) for x in r)
        grows, wrows = sorted(grows, key=key), sorted(wrows, key=key)
    diffs = [(i, a, b) for i, (a, b) in enumerate(zip(grows, wrows)) if a != b][:2]
    return f"values differ, first: {diffs}" if diffs else None


def _phoenix(con, data):
    with open(os.path.join(data, "corpus.txt"), encoding="utf-8") as f:
        text = f.read().split("\n")
    if text and text[-1] == "":
        text.pop()
    con.register("lines_t", pa.table({"line": list(range(len(text))), "text": text}))
    with open(os.path.join(data, "stop_words.txt"), encoding="utf-8") as f:
        stop = sorted(set(f.read().split()))
    con.register("stop_t", pa.table({"word": stop}))
    con.execute("CREATE VIEW clean AS SELECT * FROM (SELECT line, "
                "unnest(regexp_extract_all(lower(text), '[a-z][a-z'']*')) AS word "
                "FROM lines_t) WHERE word NOT IN (SELECT word FROM stop_t)")


def check(workload, data, out, kinds, delivered=None):
    """{kind: None if correct, else the reason} for every op kind."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    oracle = {}
    if os.path.exists(os.path.join(out, "oracle_sql.json")):
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
    if workload == "phoenix_text":
        _phoenix(con, data)
    elif workload == "dedup_batch":
        for t in ("documents", "embeddings", "part"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    result = {}
    for kind in kinds:
        try:
            if workload == "phoenix_text":
                result[kind] = compare(con, f"{out}/{kind}", PHOENIX_SQL[kind])
            elif workload == "dedup_batch":
                result[kind] = compare(con, f"{out}/{kind}", oracle[kind])
            else:
                t = TRICKLE_INPUT[kind]
                files = [f"{data}/{t}_boot.parquet"] + [
                    f"{data}/{t}_deltas/d{i:05d}.parquet" for i in range(delivered)]
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
                result[kind] = compare(con, f"{out}/{kind}", oracle[kind], ordered=False)
        except Exception as e:  # a result that cannot be read or queried is wrong
            result[kind] = f"{type(e).__name__}: {str(e)[:200]}"
    return result
