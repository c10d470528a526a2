#!/usr/bin/env python3
"""Profile the generated corpus tables against a reference copy.

    python3 perfbench/compare_data.py <reference_dir> [<generated_dir>]

`<reference_dir>` holds the sf0.1 test tables the repo's own bench
reads; `<generated_dir>` defaults to a fresh `datagen.write` into a
temporary directory. Prints one markdown table: per-table row counts,
column types and distinct counts, and the shapes the corpus queries
depend on (lines per order, document length and vocabulary, events
per user, event values), with a last column saying whether the two
tables are equal row for row.
"""
import os
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SHAPES = {
    "lines per order (min/avg/max)":
        "select min(n), round(avg(n), 3), max(n) from (select l_orderkey, "
        "count(*) n from {lineitem} group by 1)",
    "orders without lines":
        "select count(*) from {orders} where o_orderkey not in "
        "(select l_orderkey from {lineitem})",
    "repeated (l_orderkey, l_linenumber)":
        "select count(*) from (select 1 from {lineitem} "
        "group by l_orderkey, l_linenumber having count(*) > 1)",
    "words per document (min/avg/max)":
        "select min(n), round(avg(n), 2), max(n) from (select "
        "len(string_split(text, ' ')) n from {documents})",
    "vocabulary":
        "select count(distinct w) from (select unnest(string_split(text, "
        "' ')) w from {documents})",
    "documents ending in ' dup'":
        "select count(*) from {documents} where text like '% dup'",
    "documents per lang (de/en/es/fr/zh)":
        "select string_agg(n::varchar, '/' order by lang) from (select "
        "lang, count(*) n from {documents} group by 1)",
    "events per user (min/avg/max)":
        "select min(n), round(avg(n), 2), max(n) from (select user_id, "
        "count(*) n from {events} group by 1)",
    "event value (mean/median/max)":
        "select round(avg(value), 2), median(value), max(value) "
        "from {events}",
    "days order -> ship (avg)":
        "select round(avg(date_diff('day', o_orderdate, l_shipdate)), 2) "
        "from {lineitem} join {orders} on l_orderkey = o_orderkey",
}


def profile(d):
    con = duckdb.connect()
    src = {t: f"read_parquet('{os.path.join(d, t)}.parquet') {t}"
           for t in TABLES}
    out = {}
    for t in TABLES:
        schema = pq.read_schema(os.path.join(d, f"{t}.parquet"))
        out[f"{t}: rows"] = con.execute(
            f"select count(*) from {src[t]}").fetchone()[0]
        for f in schema:
            if str(f.type).startswith("list"):
                out[f"{t}.{f.name}: type"] = str(f.type)
                continue
            n = con.execute(f"select count(distinct {f.name}) "
                            f"from {src[t]}").fetchone()[0]
            out[f"{t}.{f.name}: type, distinct"] = f"{f.type}, {n}"
    for name, sql in SHAPES.items():
        row = con.execute(sql.format(**src)).fetchone()
        out[name] = "/".join(str(v) for v in row)
    con.close()
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().split("\n")[2].strip())
    ref = argv[1]
    with tempfile.TemporaryDirectory() as tmp:
        gen = argv[2] if len(argv) == 3 else tmp
        if len(argv) == 2:
            datagen.write(gen)
        a, b = profile(ref), profile(gen)
        same = {t: pq.read_table(os.path.join(ref, f"{t}.parquet")).equals(
                    pq.read_table(os.path.join(gen, f"{t}.parquet")))
                for t in TABLES}
    print("| figure | reference | generated |")
    print("|---|---|---|")
    for k in a:
        print(f"| {k} | {a[k]} | {b.get(k)} |")
    print()
    print("equal row for row: " + ", ".join(
        f"{t} {'yes' if same[t] else 'no'}" for t in TABLES))


if __name__ == "__main__":
    main(sys.argv)
