"""Synthesize a larger-SF fixture by key-offset replication of sf0.1.

Purpose (r8 verdict ask #7): SKETCH_MARGINS.md pins measured
sketch-vs-exact error per scale factor, but fixtures cap at sf0.1 —
precisely the regime where the ledger's value is hypothetical. This
tool builds an N-times corpus from sf0.1 by unioning key-offset
copies (each copy's orderkeys/partkeys/custkeys shifted past the
previous copy's max), which preserves join integrity (every offset
o_custkey exists in the offset customer table; nation/region are
dimension tables and stay as-is) and scales the DISTINCT-key
cardinalities the q56/x74 sketch gates are measured on by exactly N.

Default mode writes only the five tables the margin probes read
(lineitem, orders, customer, nation, region) — a probe fixture, not
a full testdata SF.

``--all-tables`` (r9) writes every one of the ten registered tables,
join-integrally, so the FULL 464-query differential can run on the
scaled corpus (tools/full_differential.py). Keys that participate in
a cross-table predicate anywhere in the query set share one stride
group, so every join/inequality relationship of the base corpus
replicates exactly per copy and never leaks across copies:

  - group A: o_orderkey / l_orderkey / event_id — events join orders
    via ``event_id <= o_orderkey`` inside a user equi-join (q25), so
    the as-of inequality must shift by the SAME stride on both sides
    or per-copy match density drifts;
  - group B: c_custkey / o_custkey / events.user_id (q25, x33 salted
    join);
  - group C: p_partkey / l_partkey; group D: s_suppkey / l_suppkey;
  - group E: doc_id / vec_id (documents↔embeddings joins, e.g. the
    corpus↔embedding coverage audits in queries/corpus_stats.py).

Non-key payloads (text, embeddings, timestamps, prices) are copied
verbatim: every document/vector/user-event-stream appears N times
byte-identically. That is deliberate — replication is the harshest
determinism stress the differential can buy (N-way exact-duplicate
clusters for the dedup family, N-way distance ties for the ANN
family, N-way order ties under every rank/LIMIT) while keeping both
engines on identical inputs.

``--docs M`` (with ``--all-tables``) overrides the copy count for the
document group (documents + embeddings, which share a stride) so the
text/dedup/ANN families can be stressed far past the uniform rung
without paying a matching relational blow-up — e.g. ``1 --docs 32``
is a 160 k-doc corpus over 1× relational tables.

Usage: python tools/make_scaled_fixture.py OUT_DIR [N_COPIES=4] [SRC]
                                           [--all-tables] [--docs M]
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SRC_DEFAULT = "/root/testdata/sf0.1"


def main(argv: list[str] | None = None) -> None:
    from pyspark.sql import functions as F

    from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
    from capgemini_himss24_fhirbulkdata_demo_spark.session import get_spark

    if argv is None:
        argv = sys.argv[1:]
    all_tables = "--all-tables" in argv
    args = [a for a in argv if a != "--all-tables"]
    docs_copies = None
    if "--docs" in args:
        i = args.index("--docs")
        docs_copies = int(args[i + 1])
        del args[i : i + 2]
        if not all_tables:
            # r9 ADVICE: documents are only written in --all-tables
            # mode; silently accepting --docs without it would drop
            # the override on the floor
            sys.exit("--docs requires --all-tables (default mode writes "
                     "only the five margin-probe tables, no documents)")
        if docs_copies < 1:
            sys.exit("--docs must be >= 1")
    out_dir = args[0]
    n_copies = int(args[1]) if len(args) > 1 else 4
    src = args[2] if len(args) > 2 else SRC_DEFAULT
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, src, "lineitem")
    orders = load_table(spark, src, "orders")
    cust = load_table(spark, src, "customer")

    def max_of(df, col: str) -> int:
        return df.agg(F.max(col)).first()[0]

    # strides = max+1 so copy i's keys sit strictly past copy i-1's;
    # keys related by any cross-table predicate share one stride group
    ok_stride = max_of(orders, "o_orderkey") + 1
    pk_stride = max_of(li, "l_partkey") + 1
    ck_stride = max_of(cust, "c_custkey") + 1

    def replicate(df, key_strides: dict[str, int], copies_n: int | None = None):
        copies = []
        for i in range(n_copies if copies_n is None else copies_n):
            c = df
            for col, stride in key_strides.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    writes = {
        "lineitem": replicate(
            li, {"l_orderkey": ok_stride, "l_partkey": pk_stride}
        ),
        "orders": replicate(
            orders, {"o_orderkey": ok_stride, "o_custkey": ck_stride}
        ),
        "customer": replicate(cust, {"c_custkey": ck_stride}),
        "nation": load_table(spark, src, "nation"),
        "region": load_table(spark, src, "region"),
    }

    if all_tables:
        part = load_table(spark, src, "part")
        supp = load_table(spark, src, "supplier")
        events = load_table(spark, src, "events")
        docs = load_table(spark, src, "documents")
        embs = load_table(spark, src, "embeddings")

        sk_stride = max_of(supp, "s_suppkey") + 1
        # r9 ADVICE: strides for shared key groups must clear the max
        # across EVERY table in the group, not just the child — a part
        # key above the max referenced l_partkey (or an events.user_id
        # above max c_custkey) would otherwise collide across copies,
        # silently corrupting the corpus. Groups A/E below already do
        # this; C (part/lineitem) and B (customer/orders/events) now
        # match the pattern.
        pk_stride = max(pk_stride, max_of(part, "p_partkey") + 1)
        ck_stride = max(ck_stride, max_of(events, "user_id") + 1)
        # group A: the q25 as-of predicate (event_id <= o_orderkey)
        # must shift identically on both sides
        a_stride = max(ok_stride, max_of(events, "event_id") + 1)
        # group E: doc_id and vec_id are equi-joined
        de_stride = max(
            max_of(docs, "doc_id"), max_of(embs, "vec_id")
        ) + 1

        writes["lineitem"] = replicate(
            li,
            {
                "l_orderkey": a_stride,
                "l_partkey": pk_stride,
                "l_suppkey": sk_stride,
            },
        )
        writes["orders"] = replicate(
            orders, {"o_orderkey": a_stride, "o_custkey": ck_stride}
        )
        # rebuilt: the default-mode entry baked the unguarded ck_stride
        writes["customer"] = replicate(cust, {"c_custkey": ck_stride})
        writes["part"] = replicate(part, {"p_partkey": pk_stride})
        writes["supplier"] = replicate(supp, {"s_suppkey": sk_stride})
        writes["events"] = replicate(
            events, {"event_id": a_stride, "user_id": ck_stride}
        )
        writes["documents"] = replicate(
            docs, {"doc_id": de_stride}, docs_copies
        )
        writes["embeddings"] = replicate(
            embs, {"vec_id": de_stride}, docs_copies
        )

    for name, df in writes.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        print(f"[fixture] {name}: {spark.read.parquet(path).count()} rows")
    print(f"[fixture] wrote {n_copies}x {src} -> {out_dir}")


if __name__ == "__main__":
    main()
