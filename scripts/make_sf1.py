#!/usr/bin/env python3
"""Generate a local sf1 fixture (~6M lineitem, 50k documents) for the
iterative-family scale rehearsal (VERDICT r8 task 7).

The driver testdata stops at sf0.1 (600k lineitem); the iterative
operators (connected components, star contraction, pagerank, k-core,
BFS, SSSP) are the ones whose cost is round-count- and
lineage-sensitive, so a 10x rehearsal is the cheapest way to catch a
scale surprise the bench can't see. Same schema/domains/FK structure
as TESTDATA.md, deterministic (hash-of-id, no RNG), generated by
DuckDB into .tmp/sf1 (gitignored — a ~500 MB derived artifact, NOT
driver data; regenerate with this script).

Only the tables the iterative family reads are generated: the TPC-H
star (region/nation/customer/supplier/orders/lineitem + a small part)
and documents. doc near-dup structure mirrors the driver fixture:
~10% of docs form 2-doc near-dup clusters (last 3 of 54 tokens
perturbed -> shingle-Jaccard ~0.84, well above the 0.6 threshold).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

OUT = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "sf1"),
)
SF = float(os.environ.get("SPARK_GRAFT_SF1_SCALE", "1.0"))

N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_DOCS = int(50_000 * SF)


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    t0 = time.time()

    con.execute(f"""
        COPY (SELECT CAST(i AS INT) AS r_regionkey, 'region_' || i AS r_name
              FROM range(5) r(i))
        TO '{OUT}/region.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT CAST(i AS INT) AS n_nationkey, 'nation_' || i AS n_name,
                     CAST(i % 5 AS INT) AS n_regionkey
              FROM range(25) r(i))
        TO '{OUT}/nation.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT i AS c_custkey, 'customer_' || i AS c_name,
                     CAST(hash(i * 31 + 1) % 25 AS INT) AS c_nationkey,
                     round((hash(i * 37 + 2) % 1100000) / 100.0 - 999.99, 2) AS c_acctbal,
                     ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                         [CAST(1 + hash(i * 41 + 3) % 5 AS INT)] AS c_mktsegment
              FROM range({N_CUSTOMER}) r(i))
        TO '{OUT}/customer.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT i AS s_suppkey, 'supplier_' || i AS s_name,
                     CAST(hash(i * 43 + 4) % 25 AS INT) AS s_nationkey,
                     round((hash(i * 47 + 5) % 1100000) / 100.0 - 999.99, 2) AS s_acctbal
              FROM range({N_SUPPLIER}) r(i))
        TO '{OUT}/supplier.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT i AS p_partkey,
                     -- Same bounded adjective+noun name family as the
                     -- driver's testdata (64 distinct names): the ER
                     -- pipeline's premise is vocabulary-grain work, and
                     -- the old 'part_<i> <color>' scheme made every
                     -- name unique with a serial number — a lev<=2
                     -- near-complete pair graph per color at sf1
                     -- (measured 339 s, ~4e9 candidates) that no real
                     -- corpus resembles and the small fixtures don't
                     -- have. Representative rehearsal > adversarial
                     -- artifact (ROUND_NOTES r13).
                     ['blue','cold','hot','large','new','old','red','small'][CAST(1 + hash(i*53) % 8 AS INT)]
                        || ' ' ||
                     ['anvil','bolt','gear','gizmo','plate','ring','rod','widget'][CAST(1 + hash(i*89+13) % 8 AS INT)] AS p_name,
                     'Brand#' || (1 + hash(i * 59 + 6) % 5) || (1 + hash(i * 61 + 7) % 5) AS p_brand,
                     ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL'][CAST(1 + hash(i * 67 + 8) % 5 AS INT)]
                        || ' ' || ['ANODIZED','BRUSHED','BURNISHED','PLATED','POLISHED'][CAST(1 + hash(i*71+9) % 5 AS INT)]
                        || ' ' || ['BRASS','COPPER','NICKEL','STEEL','TIN'][CAST(1 + hash(i*73+10) % 5 AS INT)] AS p_type,
                     CAST(1 + hash(i * 79 + 11) % 50 AS INT) AS p_size,
                     round(900 + (hash(i * 83 + 12) % 120000) / 100.0, 2) AS p_retailprice
              FROM range({N_PART}) r(i))
        TO '{OUT}/part.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT i AS o_orderkey,
                     CAST(hash(i * 89 + 13) % {N_CUSTOMER} AS BIGINT) AS o_custkey,
                     ['F','O','P'][1 + CASE WHEN hash(i*97+14) % 20 < 9 THEN 0
                                            WHEN hash(i*97+14) % 20 < 18 THEN 1 ELSE 2 END] AS o_orderstatus,
                     round(1000 + (hash(i * 101 + 15) % 40000000) / 100.0, 2) AS o_totalprice,
                     TIMESTAMP '1995-01-01' + CAST(hash(i * 103 + 16) % 1460 AS INT) * INTERVAL 1 DAY AS o_orderdate,
                     (1 + hash(i * 107 + 17) % 5) || '-' ||
                       ['URGENT','HIGH','MEDIUM','NOT SPECIFIED','LOW'][CAST(1 + hash(i*107+17) % 5 AS INT)] AS o_orderpriority
              FROM range({N_ORDERS}) r(i))
        TO '{OUT}/orders.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (SELECT CAST(i // 4 AS BIGINT) AS l_orderkey,
                     CAST(hash(i * 109 + 18) % {N_PART} AS BIGINT) AS l_partkey,
                     CAST(hash(i * 113 + 19) % {N_SUPPLIER} AS BIGINT) AS l_suppkey,
                     CAST(1 + i % 4 AS INT) AS l_linenumber,
                     CAST(1 + hash(i * 127 + 20) % 50 AS DOUBLE) AS l_quantity,
                     round(900 + (hash(i * 131 + 21) % 9500000) / 100.0, 2) AS l_extendedprice,
                     (hash(i * 137 + 22) % 11) / 100.0 AS l_discount,
                     (hash(i * 139 + 23) % 9) / 100.0 AS l_tax,
                     ['A','N','R'][CAST(1 + hash(i * 149 + 24) % 3 AS INT)] AS l_returnflag,
                     ['F','O'][CAST(1 + hash(i * 151 + 25) % 2 AS INT)] AS l_linestatus,
                     TIMESTAMP '1995-01-01' + CAST(hash(i * 157 + 26) % 1550 AS INT) * INTERVAL 1 DAY AS l_shipdate
              FROM range({N_LINEITEM}) r(i))
        TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)
    """)
    # documents: 54 tokens from a 5000-word vocab; doc i with i%10==1 is
    # a near-dup of i-1 (last 3 tokens replaced with unique markers).
    con.execute(f"""
        COPY (
          WITH raw AS (
            SELECT i AS doc_id, (i % 10 = 1) AS is_dup,
                   CASE WHEN i % 10 = 1 THEN i - 1 ELSE i END AS base
            FROM range({N_DOCS}) r(i)
          ),
          txt AS (
            SELECT doc_id,
                   array_to_string(list_transform(range(54), j ->
                     CASE WHEN is_dup AND j >= 51 THEN 'u' || doc_id || '_' || j
                          ELSE 'w' || (hash(base * 1000003 + j * 7919) % 5000) END), ' ') AS text
            FROM raw
          )
          SELECT doc_id, text,
                 ['de','en','es','fr','zh'][CAST(1 + hash(doc_id * 163 + 27) % 5 AS INT)] AS lang,
                 'src' || (hash(doc_id * 167 + 28) % 20) AS source,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM txt
        ) TO '{OUT}/documents.parquet' (FORMAT PARQUET)
    """)
    # embeddings: 10x the driver fixture's 2k vectors, same shape
    # (64-dim FLOAT[] in roughly [-0.3, 0.3], integer label) —
    # deterministic hash-of-(id, dim) formula, no RNG. Feeds the
    # similarity/sampling rehearsals (kcenter, matryoshka).
    con.execute(f"""
        COPY (
          SELECT i AS vec_id,
                 CAST(list_transform(range(64), j ->
                     ((hash(i * 131071 + j * 524287) % 2000001)
                      / 1000000.0 - 1.0) * 0.3) AS FLOAT[]) AS embedding,
                 CAST(hash(i * 173 + 29) % 10 AS INT) AS label
          FROM range({int(20_000 * SF)}) r(i)
        ) TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)
    """)
    # events: 10x the driver fixture's 100k rows, same shape/domains
    # (30 days of 2024-01, 5 event types, value in dollars) —
    # deterministic hash-of-id, no RNG. Feeds the events-table
    # rehearsals (neyman allocation, decay weighting).
    con.execute(f"""
        COPY (
          SELECT i AS event_id,
                 TIMESTAMP '2024-01-01'
                   + CAST(hash(i * 179 + 31) % 2592000 AS BIGINT)
                     * INTERVAL 1 SECOND
                   + CAST(hash(i * 181 + 32) % 1000000 AS BIGINT)
                     * INTERVAL 1 MICROSECOND AS ts,
                 CAST(hash(i * 191 + 33) % 15000 AS BIGINT) AS user_id,
                 ['view','click','cart','purchase','refund']
                     [CAST(1 + hash(i * 193 + 34) % 5 AS INT)] AS event_type,
                 round((hash(i * 197 + 35) % 50000) / 100.0, 2) AS value,
                 '{{}}' AS props
          FROM range({int(1_000_000 * SF)}) r(i)
        ) TO '{OUT}/events.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings", "events"):
        n = con.execute(f"SELECT count(*) FROM '{OUT}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n}", file=sys.stderr)
    print(f"generated sf{SF} fixture in {OUT} ({time.time() - t0:.1f}s)", file=sys.stderr)


if __name__ == "__main__":
    main()
