#!/usr/bin/env python
"""Generate a 10x-scale ANALOG of the sf0.1 testdata into a target dir
(default /tmp/sf1x) for scaling verification — NOT driver data and NOT
oracle-comparable: replicas get decorrelated payloads so volume scales
10x without planting artificial duplicate structure.

Per-replica transforms (k = 0 keeps the originals):
- documents: doc_id + 10M*k; every token suffixed '~k' so replicas
  share no vocabulary (near-dup/dedup ops scale by volume, not by
  fabricated cross-replica duplicates); n_chars recomputed.
- embeddings: vec_id + 10M*k; the vector rolled by k mod its dimension
  (norm/distribution preserved, cross-replica cosine decorrelated as
  long as the dimension exceeds K - 1).
- events / TPC-H star: consistent key offsets per replica
  (orderkey/event_id +10M*k, custkey/partkey/user_id +1M*k,
  suppkey +100k*k); nation/region copied (dimension tables).

Usage: python scripts/make_sf10x.py [src_sf_dir] [out_dir]
"""

import sys
import time

import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1x"
K = 10


def reps(parts):
    return "\nUNION ALL\n".join(parts)


def main():
    import os

    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    con.sql("PRAGMA threads=24")
    t0 = time.time()
    docs = []
    for k in range(K):
        if k == 0:
            docs.append(f"SELECT doc_id, text, lang, source, n_chars FROM '{SRC}/documents.parquet'")
        else:
            sub = f"regexp_replace(text, '(\\S+)', '\\1~{k}', 'g')"
            docs.append(
                f"SELECT doc_id + {10_000_000 * k} AS doc_id, {sub} AS text, lang, source, "
                f"length({sub})::BIGINT AS n_chars FROM '{SRC}/documents.parquet'"
            )
    con.sql(f"COPY ({reps(docs)}) TO '{OUT}/documents.parquet' (FORMAT PARQUET)")
    embs = []
    for k in range(K):
        if k == 0:
            embs.append(f"SELECT vec_id, embedding, label FROM '{SRC}/embeddings.parquet'")
        else:
            embs.append(
                f"SELECT vec_id + {10_000_000 * k} AS vec_id, "
                # roll by k mod the dimension: a slice past the end of a
                # short vector would leave it unrolled
                f"(embedding[({k} % len(embedding)) + 1:] || embedding[1:{k} % len(embedding)])::FLOAT[] "
                "AS embedding, label "
                f"FROM '{SRC}/embeddings.parquet'"
            )
    con.sql(f"COPY ({reps(embs)}) TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)")
    ev = [
        f"SELECT event_id + {10_000_000 * k} AS event_id, ts, user_id + {1_000_000 * k} AS user_id, "
        f"event_type, value, props FROM '{SRC}/events.parquet'"
        for k in range(K)
    ]
    con.sql(f"COPY ({reps(ev)}) TO '{OUT}/events.parquet' (FORMAT PARQUET)")
    li = [
        f"SELECT l_orderkey + {10_000_000 * k} AS l_orderkey, l_partkey + {1_000_000 * k} AS l_partkey, "
        f"l_suppkey + {100_000 * k} AS l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, "
        f"l_tax, l_returnflag, l_linestatus, l_shipdate FROM '{SRC}/lineitem.parquet'"
        for k in range(K)
    ]
    con.sql(f"COPY ({reps(li)}) TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)")
    orders = [
        f"SELECT o_orderkey + {10_000_000 * k} AS o_orderkey, o_custkey + {1_000_000 * k} AS o_custkey, "
        f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM '{SRC}/orders.parquet'"
        for k in range(K)
    ]
    con.sql(f"COPY ({reps(orders)}) TO '{OUT}/orders.parquet' (FORMAT PARQUET)")
    cust = [
        f"SELECT c_custkey + {1_000_000 * k} AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM '{SRC}/customer.parquet'"
        for k in range(K)
    ]
    con.sql(f"COPY ({reps(cust)}) TO '{OUT}/customer.parquet' (FORMAT PARQUET)")
    supp = [
        f"SELECT s_suppkey + {100_000 * k} AS s_suppkey, s_name, s_nationkey, s_acctbal "
        f"FROM '{SRC}/supplier.parquet'"
        for k in range(K)
    ]
    con.sql(f"COPY ({reps(supp)}) TO '{OUT}/supplier.parquet' (FORMAT PARQUET)")
    part = [
        f"SELECT p_partkey + {1_000_000 * k} AS p_partkey, p_name, p_brand, p_type, p_size, p_retailprice "
        f"FROM '{SRC}/part.parquet'"
        for k in range(K)
    ]
    con.sql(f"COPY ({reps(part)}) TO '{OUT}/part.parquet' (FORMAT PARQUET)")
    for t in ("nation", "region"):
        con.sql(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{OUT}/{t}.parquet' (FORMAT PARQUET)")
    print(f"wrote {OUT} in {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main()
