#!/usr/bin/env python3
"""Prints the figures that describe a fixture directory, so the generated
tables can be compared with graft's own sf0.1 test fixtures.

    python3 perfbench/fixture_stats.py <data dir>

Row counts, key and value ranges, category shares, the documents' token and
character lengths, vocabulary, near-duplicate structure, and the embeddings'
dimension, norms and label geometry.  One "name: value" line per figure.
"""
import collections
import os
import statistics
import sys

import duckdb
import numpy as np

TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def main(data):
    con = duckdb.connect()

    def t(name):
        return f"read_parquet('{data}/{name}.parquet')"

    def one(sql):
        return con.execute(sql).fetchall()

    def show(name, value):
        print(f"{name}: {value}")

    for name in TABLES:
        show(f"rows.{name}", one(f"SELECT count(*) FROM {t(name)}")[0][0])
    show("parquet_bytes", sum(os.path.getsize(os.path.join(data, f))
                              for f in os.listdir(data) if f.endswith(".parquet")))
    show("lineitem.orderkey_range", one(
        f"SELECT min(l_orderkey), max(l_orderkey) FROM {t('lineitem')}")[0])
    show("orders.without_lines", one(
        f"SELECT count(*) FROM {t('orders')} o WHERE NOT EXISTS (SELECT 1 "
        f"FROM {t('lineitem')} l WHERE l.l_orderkey = o.o_orderkey)")[0][0])
    show("lineitem.lines_per_order_p50_max", one(
        f"SELECT median(n), max(n) FROM (SELECT count(*) n "
        f"FROM {t('lineitem')} GROUP BY l_orderkey)")[0])
    show("orders.orderdate_range", [str(x) for x in one(
        f"SELECT min(o_orderdate), max(o_orderdate) FROM {t('orders')}")[0]])
    show("lineitem.shipdate_range", [str(x) for x in one(
        f"SELECT min(l_shipdate), max(l_shipdate) FROM {t('lineitem')}")[0]])
    show("lineitem.extendedprice_q", [round(x, 2) for x in one(
        f"SELECT quantile_cont(l_extendedprice, [0, 0.25, 0.5, 0.75, 1]) "
        f"FROM {t('lineitem')}")[0][0]])
    show("orders.totalprice_q", [round(x, 2) for x in one(
        f"SELECT quantile_cont(o_totalprice, [0, 0.25, 0.5, 0.75, 1]) "
        f"FROM {t('orders')}")[0][0]])
    show("lineitem.flag_status_shares", [
        (f, s, round(share, 3)) for f, s, share in one(
            f"SELECT l_returnflag, l_linestatus, "
            f"count(*) / sum(count(*)) OVER () FROM {t('lineitem')} "
            f"GROUP BY ALL ORDER BY ALL")])
    show("lineitem.distinct_qty_disc_tax", one(
        f"SELECT count(DISTINCT l_quantity), count(DISTINCT l_discount), "
        f"count(DISTINCT l_tax) FROM {t('lineitem')}")[0])
    show("part.distinct_name_brand_type_size", one(
        f"SELECT count(DISTINCT p_name), count(DISTINCT p_brand), "
        f"count(DISTINCT p_type), count(DISTINCT p_size) FROM {t('part')}")[0])
    show("customer.acctbal_q", [round(x, 2) for x in one(
        f"SELECT quantile_cont(c_acctbal, [0, 0.5, 1]) "
        f"FROM {t('customer')}")[0][0]])
    show("events.users_types_props", one(
        f"SELECT count(DISTINCT user_id), count(DISTINCT event_type), "
        f"count(DISTINCT props) FROM {t('events')}")[0])
    show("events.value_mean_p50_max", [round(x, 2) for x in one(
        f"SELECT avg(value), median(value), max(value) FROM {t('events')}")[0]])

    docs = one(f"SELECT text, lang FROM {t('documents')} ORDER BY doc_id")
    texts = [d[0] for d in docs]
    tokens = [s.split() for s in texts]
    counts = collections.Counter(w for ws in tokens for w in ws)
    n_tok = [len(ws) for ws in tokens]
    n_chr = [len(s) for s in texts]
    show("documents.distinct_tokens", len(counts))
    show("documents.rarest_tokens", counts.most_common()[-2:])
    show("documents.token_count_cv_without_rarest", round(statistics.pstdev(
        [c for _, c in counts.most_common()[:-1]]) / statistics.mean(
        [c for _, c in counts.most_common()[:-1]]), 4))
    show("documents.tokens_min_q1_p50_q3_max", [min(n_tok)] + [
        round(x, 1) for x in statistics.quantiles(n_tok, n=4)] + [max(n_tok)])
    show("documents.chars_min_q1_p50_q3_max", [min(n_chr)] + [
        round(x, 1) for x in statistics.quantiles(n_chr, n=4)] + [max(n_chr)])
    present = set(texts)
    copies = sum(s.endswith(" dup") and s[:-4] in present for s in texts)
    show("documents.copy_plus_dup_share", round(copies / len(texts), 4))
    show("documents.exact_duplicates", len(texts) - len(present))
    show("documents.lang_shares", sorted(
        (k, round(v / len(docs), 3))
        for k, v in collections.Counter(d[1] for d in docs).items()))

    emb = one(f"SELECT embedding, label FROM {t('embeddings')}")
    v = np.array([e[0] for e in emb], dtype=np.float64)
    labels = np.array([e[1] for e in emb])
    norms = np.linalg.norm(v, axis=1)
    centers = np.array([v[labels == k].mean(0) for k in np.unique(labels)])
    show("embeddings.dim", v.shape[1])
    show("embeddings.norm_min_max", [round(norms.min(), 5),
                                     round(norms.max(), 5)])
    show("embeddings.labels", len(np.unique(labels)))
    show("embeddings.label_center_norm_mean",
         round(float(np.linalg.norm(centers, axis=1).mean()), 4))


if __name__ == "__main__":
    main(sys.argv[1])
