#!/usr/bin/env python
"""Synthesize a K×-scaled copy of a testdata sf directory for local
scaling probes (SCALE.md's measured-exponent table).

The driver's generator is not available locally, so sfN is synthesized
from an existing sf dir by K-fold self-union with per-copy key shifts
that preserve the properties the probe cares about:

- referential integrity: copy i shifts custkey/orderkey/partkey/
  suppkey/doc_id/vec_id/event_id/user_id by i*offset consistently in
  every referencing table, so join fan-outs stay identical per copy;
- fixed dims (region, nation) stay fixed — exactly how a real 10×
  corpus behaves (and keeps them broadcastable, as at 100 TB);
- documents: text is CHARACTER-ROTATED per copy (len-preserving), so
  near-dup cluster structure is replicated per copy instead of every
  doc becoming a K-way exact duplicate (which would grow LSH bucket
  candidates K² — an artifact, not a property of the corpus);
- embeddings: dims rotated per copy and labels shifted to fresh ids,
  so blocking keys scale WITH the corpus (as LSH/IVF keys do in
  production) and block occupancy — hence blocked-join cost per pair —
  stays constant;
- events: timestamps kept (the windowed time-domain is a property of
  the workload, not the volume), user/event ids shifted.

Usage: python tools/make_sf.py /root/testdata/sf0.1 /tmp/xngin_scale/sf1 10

Dedup-bounded mode (``--dedup-docs``): synthesizes ONLY documents, with
near-dup structure that scales LINEARLY in K. The default rotation
makes all K copies of a doc mutual near-duplicates (rotations share
most shingles), so true near-dup PAIRS grow ~K² — at sf100 the scaling
probe measured the synthesis's pair explosion, not the operator
(SCALE.md round-10 exclusion). Here copies are grouped into bounded
COPY GROUPS of 4: within a group, copies are position-rotations of
each other (genuine near-dups, as before); across groups, a per-group
substitution cipher (rotated alphabet via translate()) rewrites every
shingle, so cross-group pairs are NOT near-dups. Each source doc then
contributes K/4 groups x C(4,2)=6 pairs = 1.5*K pairs — linear — which
is how a real K x-larger corpus behaves (a 10x crawl does not square
its near-dup set).

Usage: python tools/make_sf.py SRC DST K --dedup-docs
"""

from __future__ import annotations

import os
import string
import sys

import duckdb

#: bounded copy-group size for --dedup-docs (pairs per source doc =
#: (K/G) * C(G,2) = K*(G-1)/2 — linear in K for fixed G)
DEDUP_GROUP = 4


def make_dedup_docs(src: str, dst: str, k: int) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    (m,) = con.sql(
        f"SELECT MAX(doc_id) FROM read_parquet('{src}/documents.parquet')"
    ).fetchone()
    o_doc = 1
    while o_doc <= m:
        o_doc *= 10

    lower, upper, digits = (
        string.ascii_lowercase, string.ascii_uppercase, string.digits
    )
    src_alpha = lower + upper + digits

    n_groups = (k + DEDUP_GROUP - 1) // DEDUP_GROUP
    # group 0 keeps the identity alphabet so copy 0 is the verbatim src.
    # Each group gets a full PERMUTATION of each character class, not a
    # rotation: rotations admit only 26 distinct lowercase ciphers, and
    # the synthetic corpus is lowercase-only — at sf100 (250 groups)
    # every ~10th group shared a cipher, so copies of the same source
    # doc agreed on >=50% of their minhashes across groups and the LSH
    # pair count grew 123x per 10x data (SCALE.md, LSH phase split:
    # 160-doc band buckets, a=1.38). With
    # per-group shuffles the cipher space is 26! per class; uniqueness
    # over the emitted groups is asserted, so cross-group pairs are
    # structurally impossible rather than probabilistic.
    import random as _random

    def perm(g: int, alphabet: str) -> str:
        if g == 0:
            return alphabet
        return "".join(
            _random.Random(f"dedup-cipher-{g}-{alphabet[0]}").sample(
                alphabet, len(alphabet)
            )
        )

    ciphers = [
        perm(g, lower) + perm(g, upper) + perm(g, digits)
        for g in range(n_groups)
    ]
    if len(set(ciphers)) != n_groups:
        raise SystemExit("cipher collision — change the seed scheme")
    rows = ", ".join(
        "({}, '{}')".format(g, c) for g, c in enumerate(ciphers)
    )
    q = f"""
        SELECT doc_id + i*{o_doc} AS doc_id,
               CASE WHEN length(text) = 0 THEN text
                    ELSE translate(
                      CASE WHEN i % {DEDUP_GROUP} = 0 THEN text
                           ELSE substr(text,
                                  ((i % {DEDUP_GROUP})*37 % length(text)) + 1)
                                || substr(text, 1,
                                  (i % {DEDUP_GROUP})*37 % length(text))
                      END, '{src_alpha}', gm.tgt)
               END AS text,
               lang, source, n_chars
        FROM read_parquet('{src}/documents.parquet'),
             (SELECT unnest(range({k})) AS i) copies
        JOIN (VALUES {rows}) gm(g, tgt)
          ON gm.g = i // {DEDUP_GROUP}
    """
    out = os.path.join(dst, "documents.parquet")
    con.execute(
        f"COPY ({q}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE 262144)"
    )
    (n,) = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}')").fetchone()
    print(f"documents (dedup-bounded, G={DEDUP_GROUP}): {n} rows -> {out}")


def main(src: str, dst: str, k: int) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    def off(table: str, col: str) -> int:
        (m,) = con.sql(
            f"SELECT MAX({col}) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()
        # next power of 10 above max keeps shifted ids human-readable
        o = 1
        while o <= m:
            o *= 10
        return o

    o_cust = off("customer", "c_custkey")
    o_ord = off("orders", "o_orderkey")
    o_part = off("part", "p_partkey")
    o_supp = off("supplier", "s_suppkey")
    o_doc = off("documents", "doc_id")
    o_vec = off("embeddings", "vec_id")
    o_lab = off("embeddings", "label")
    o_ev = off("events", "event_id")
    o_usr = off("events", "user_id")

    copies = f"(SELECT unnest(range({k})) AS i) copies"

    plans = {
        "region": "SELECT * FROM src",
        "nation": "SELECT * FROM src",
        "customer": f"""
            SELECT c_custkey + i*{o_cust} AS c_custkey, c_name, c_nationkey,
                   c_acctbal, c_mktsegment
            FROM src, {copies}""",
        "supplier": f"""
            SELECT s_suppkey + i*{o_supp} AS s_suppkey, s_name, s_nationkey,
                   s_acctbal
            FROM src, {copies}""",
        "part": f"""
            SELECT p_partkey + i*{o_part} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM src, {copies}""",
        "orders": f"""
            SELECT o_orderkey + i*{o_ord} AS o_orderkey,
                   o_custkey + i*{o_cust} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM src, {copies}""",
        "lineitem": f"""
            SELECT l_orderkey + i*{o_ord} AS l_orderkey,
                   l_partkey + i*{o_part} AS l_partkey,
                   l_suppkey + i*{o_supp} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM src, {copies}""",
        "events": f"""
            SELECT event_id + i*{o_ev} AS event_id, ts,
                   user_id + i*{o_usr} AS user_id,
                   event_type, value, props
            FROM src, {copies}""",
        "documents": f"""
            SELECT doc_id + i*{o_doc} AS doc_id,
                   CASE WHEN i = 0 OR length(text) = 0 THEN text
                        ELSE substr(text, (i*37 % length(text)) + 1)
                             || substr(text, 1, i*37 % length(text))
                   END AS text,
                   lang, source, n_chars
            FROM src, {copies}""",
        "embeddings": f"""
            SELECT vec_id + i*{o_vec} AS vec_id,
                   CASE WHEN i = 0 THEN embedding
                        ELSE embedding[(i % 64) + 1:]
                             || embedding[1:(i % 64)]
                   END AS embedding,
                   CAST(label + i*{o_lab} AS INTEGER) AS label
            FROM src, {copies}""",
    }
    for table, sql in plans.items():
        q = sql.replace("src", f"read_parquet('{src}/{table}.parquet')")
        out = os.path.join(dst, f"{table}.parquet")
        con.execute(
            f"COPY ({q}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE 262144)"
        )
        (n,) = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}')").fetchone()
        print(f"{table}: {n} rows -> {out}")


if __name__ == "__main__":
    src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if "--dedup-docs" in sys.argv[4:]:
        make_dedup_docs(src, dst, k)
    else:
        main(src, dst, k)
