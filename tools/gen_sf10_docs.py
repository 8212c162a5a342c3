#!/usr/bin/env python3
"""Generate sf10 documents + embeddings ONLY (100x sf0.1) for the
band-resolution decade probe.

Dev tool, driver-side python only (duckdb) — NOT part of the shipped
library. BASELINE.md's sf1 adjudication argues the LSH dedup family
returns to linear candidate growth when band/bucket knobs scale with n;
this corpus gives that claim a second measured order of magnitude via
`graft.ScaleRun`'s budget rows (candidate budgets, printed before any
pair join; the joins at sf0.1 knobs are deliberately NOT worth running at
this size — the budgets exist to show why). Same replication rules as gen_sf1.py: id offsets, ~25%
deterministic token mutation per document copy (copies are NOT
near-dups), hash-noise re-randomized embeddings; copy 0 byte-identical
to sf0.1.

Usage: python3 tools/gen_sf10_docs.py [outdir]  (default /tmp/graft_sf10)
"""
import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_sf10"
BASE = 10_000_000
COPIES = 100

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
os.makedirs(OUT, exist_ok=True)


def gen(table, sql):
    con.execute(f"COPY ({sql}) TO '{OUT}/{table}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{OUT}/{table}.parquet')"
    ).fetchone()[0]
    print(f"{table}: {n} rows")


def src(table):
    return f"read_parquet('{SRC}/{table}.parquet')"


copies = f"(SELECT unnest(range({COPIES})) AS cp)"

gen("documents", f"""
SELECT doc_id + cp*{BASE} AS doc_id,
       CASE WHEN cp = 0 THEN text
         ELSE array_to_string(list_transform(string_split(text, ' '),
           t -> CASE WHEN hash(t || '#' || cp::VARCHAR) % 4 = 0
                THEN t || '~' || cp::VARCHAR ELSE t END), ' ')
       END AS text,
       lang, source, n_chars
FROM {src('documents')}, {copies}""")

gen("embeddings", f"""
WITH s AS (
  SELECT stddev(x) AS sd FROM (
    SELECT unnest(embedding)::DOUBLE AS x FROM {src('embeddings')}))
SELECT vec_id + cp*{BASE} AS vec_id,
       CASE WHEN cp = 0 THEN embedding
         ELSE list_transform(range(1, len(embedding) + 1),
           i -> (embedding[i]::DOUBLE
             + ((hash(vec_id*1000 + cp*100 + i) % 2001)::BIGINT - 1000)
               / 1000.0 * sd)::FLOAT)::FLOAT[]
       END AS embedding,
       label
FROM {src('embeddings')}, {copies}, s""")
