"""Checks the query workload's results against DuckDB.

Each query's Spark result (parquet under <check>/<query>/) is compared with
DuckDB running the program's oracle SQL (<check>/oracle_sql.json) over the
same lake, under the parity rules of the project's correctness gate:
columns matched by name, rows sorted by every value, values compared
exactly, decimal columns refused.

The q88_bpe_train oracle embeds a merge table trained on the project's
fixed test lake, so on a generated lake a reference BPE trainer here
replaces it: same tokens, same tie-break (count, then left and right
symbol in UTF-8 byte order).
"""
import collections
import glob
import json
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _rows(tbl, origin):
    for f in tbl.schema:
        if "decimal" in str(f.type) or "int128" in str(f.type):
            raise ValueError(f"{origin}: column {f.name} is {f.type}")
    cols = tbl.schema.names
    return cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda row: tuple((x is None, str(x)) for x in row)
    return ([cols[i] for i in order],
            sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=key))


def compare(spark, oracle):
    (scols, srows), (ocols, orows) = _sorted(*spark), _sorted(*oracle)
    if scols != ocols:
        return f"columns {scols} != oracle {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows, oracle {len(orows)}"
    bad = [(a, b) for a, b in zip(srows, orows) if a != b]
    return f"{len(bad)} rows differ, first {bad[0]}" if bad else None


def bpe_reference(con, rounds=16, min_count=2):
    words = collections.Counter(
        t for (text,) in con.execute("SELECT text FROM documents").fetchall()
        if text is not None for t in text.split(" ") if t)
    syms = {w: list(w) for w in words}
    merges = []
    for rank in range(1, rounds + 1):
        counts = collections.Counter()
        for w, f in words.items():
            s = syms[w]
            for pair in zip(s, s[1:]):
                counts[pair] += f
        if not counts:
            break
        (l, r), n = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()))
        if n < min_count:
            break
        merges.append((rank, l, r, n))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return ["rank", "left", "right", "n"], merges


def check(lake, checkdir, queries):
    """Return {query: problem} for every written result that is wrong (a
    query that threw wrote nothing and was counted by the JVM side)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
    sql = json.load(open(os.path.join(checkdir, "oracle_sql.json")))
    problems = {}
    for q in queries:
        files = glob.glob(os.path.join(checkdir, q, "*.parquet"))
        if not files:
            continue
        try:
            spark = _rows(con.sql(f"SELECT * FROM read_parquet({files!r})").arrow(), q)
            if q == "q88_bpe_train":
                oracle = bpe_reference(con)
            elif q in sql:
                oracle = _rows(con.sql(sql[q]).arrow(), q + " (oracle)")
            else:
                raise ValueError("no oracle")
            err = compare(spark, oracle)
        except Exception as e:  # a failed check is a wrong output
            err = f"{type(e).__name__}: {e}"
        if err:
            problems[q] = err[:300]
    return problems

