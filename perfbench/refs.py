#!/usr/bin/env python3
"""Reference outputs for the benchmark's output checks, from DuckDB.

Runs each oracle SQL (as printed by perfbench.OracleDump) on the corpus in
DuckDB and writes:
  interactive.tsv  key, row count, content hash (one line per headline key
                   that has an oracle)
  migrate.tsv      id, row hash (one line per solr_doc_assembly document)

Rows are rendered exactly as perfbench/Content.scala renders Spark rows, so
the hashes compare across the two engines.

Usage: refs.py <corpus_dir> <oracle.json> <out_dir>
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import sys

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
EPOCH = datetime.datetime(1970, 1, 1)
MASK = (1 << 64) - 1


def cell(v):
    if v is None:
        return "\x00N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        return str((v.replace(tzinfo=None) - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def row_hash(cells):
    d = hashlib.md5("\x01".join(cell(c) for c in cells).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big", signed=True)


def signed(h):
    h &= MASK
    return h - (1 << 64) if h >= 1 << 63 else h


def rows_sorted(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [[r[i] for i in order] for r in cur.fetchall()], [names[i] for i in order]


def main():
    corpus, oracle_path, out = sys.argv[1:4]
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, t + '.parquet')}')")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "interactive.tsv.tmp"), "w") as f:
        for key, sql in oracle.items():
            if key == "solr_doc_assembly":
                continue
            rows, _ = rows_sorted(con, sql)
            f.write(f"{key}\t{len(rows)}\t{signed(sum(row_hash(r) for r in rows))}\n")
    rows, names = rows_sorted(con, oracle["solr_doc_assembly"])
    idx = names.index("id")
    with open(os.path.join(out, "migrate.tsv.tmp"), "w") as f:
        for r in rows:
            f.write(f"{r[idx]}\t{row_hash(r)}\n")
    for n in ("interactive.tsv", "migrate.tsv"):
        os.replace(os.path.join(out, n + ".tmp"), os.path.join(out, n))


if __name__ == "__main__":
    main()
