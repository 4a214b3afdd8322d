#!/usr/bin/env python3
"""Prints the distribution parameters `datagen.py` reproduces, side by side
for each directory of the ten input tables given, as a Markdown table.

    python3 layerbench/inputstats.py <sf0.1 dir> .bench_build/data/seed-3-<digest>

README.md ("Inputs") records its output for the sf0.1 test set and one
generated seed.
"""
import collections
import sys

import numpy as np
import pyarrow.parquet as pq


def stats(d):
    def t(name):
        return pq.read_table(f"{d}/{name}.parquet").to_pandas()

    out = {}
    for name in ("customer", "supplier", "part", "orders", "lineitem", "events",
                 "documents", "embeddings"):
        out[f"{name} rows"] = len(t(name))
    c = t("customer")
    out["c_acctbal min / mean / max"] = (f"{c.c_acctbal.min():.2f} / {c.c_acctbal.mean():.0f}"
                                         f" / {c.c_acctbal.max():.2f}")
    out["c_mktsegment values"] = c.c_mktsegment.nunique()
    p = t("part")
    out["p_name values (adjective × noun)"] = p.p_name.nunique()
    out["p_brand values / p_type values"] = f"{p.p_brand.nunique()} / {p.p_type.nunique()}"
    out["p_retailprice = 900 + (key mod 1000) × 0.1"] = bool(np.allclose(
        p.p_retailprice, 900 + (p.p_partkey % 1000) * 0.1))
    o = t("orders")
    per_cust = o.groupby("o_custkey").size()
    out["customers with orders / orders per customer (sd)"] = (
        f"{len(per_cust)} / {per_cust.mean():.2f} ({per_cust.std():.2f})")
    out["o_orderdate range (midnights)"] = f"{o.o_orderdate.min():%Y-%m-%d} – {o.o_orderdate.max():%Y-%m-%d}"
    li = t("lineitem")
    per_order = li.groupby("l_orderkey").size()
    out["orders with lines / lines per order mean (max)"] = (
        f"{len(per_order)} / {per_order.mean():.2f} ({per_order.max()})")
    out["l_linenumber values / unique per order"] = (
        f"{li.l_linenumber.nunique()} / {not li.duplicated(['l_orderkey', 'l_linenumber']).any()}")
    j = li.merge(o[["o_orderkey", "o_orderdate"]], left_on="l_orderkey", right_on="o_orderkey")
    gap = (j.l_shipdate - j.o_orderdate).dt.days
    out["ship − order days median (sd)"] = f"{gap.median():.0f} ({gap.std():.0f})"
    out["l_discount / l_tax values"] = f"{li.l_discount.nunique()} / {li.l_tax.nunique()}"
    e = t("events")
    out["events users / types / props values"] = (
        f"{e.user_id.nunique()} / {e.event_type.nunique()} / {e.props.nunique()}")
    out["events value mean (sd)"] = f"{e.value.mean():.2f} ({e.value.std():.2f})"
    out["events ts sorted / distinct"] = f"{e.ts.is_monotonic_increasing} / {e.ts.nunique()}"
    doc = t("documents")
    toks = doc.text.str.split(" ")
    base = toks[toks.map(lambda x: x[-1] != "dup")].map(len)
    out["tokens per document, non-copies: min / mean / max"] = (
        f"{base.min()} / {base.mean():.2f} / {base.max()}")
    words = collections.Counter(w for x in toks for w in x if w != "dup")
    out["vocabulary (words besides `dup`)"] = len(words)
    out["vocabulary share of the commonest word"] = f"{max(words.values()) / sum(words.values()):.4f}"
    texts = set(doc.text)
    copies = [x for x in doc.text if x.endswith(" dup")]
    out["documents ending ` dup` / whose prefix is another document"] = (
        f"{len(copies)} / {sum(1 for x in copies if x[:-4] in texts)}")
    out["documents ending ` dup dup`"] = sum(1 for x in copies if x.endswith(" dup dup"))
    vc = doc.text.value_counts()
    out["exact-duplicate pairs"] = int((vc > 1).sum())
    by_len = collections.defaultdict(list)
    for x in toks:
        by_len[len(x)].append(x)
    out["same-length pairs 1–2 tokens apart"] = sum(
        1 for group in by_len.values() for i in range(len(group)) for k in range(i + 1, len(group))
        if 0 < sum(a != b for a, b in zip(group[i], group[k])) <= 2)
    share = doc.lang.value_counts(normalize=True)
    out["lang shares en / de / es / fr / zh"] = " / ".join(
        f"{share.get(x, 0):.3f}" for x in ("en", "de", "es", "fr", "zh"))
    out["source = src(id mod 20)"] = bool(all(s == f"src{i % 20}" for i, s in zip(doc.doc_id, doc.source)))
    emb = t("embeddings")
    m = np.stack(emb.embedding.values)
    g = m @ m.T
    np.fill_diagonal(g, 0)
    out["embedding dims / norm / component sd"] = (
        f"{m.shape[1]} / {np.linalg.norm(m, axis=1).mean():.4f} / {m.std():.4f}")
    out["largest cosine between two embeddings"] = f"{g.max():.2f}"
    out["labels / label = id mod 10 share"] = (
        f"{emb.label.nunique()} / {(emb.label == emb.vec_id % 10).mean():.3f}")
    return out


def main(dirs):
    cols = [stats(d) for d in dirs]
    print("| parameter | " + " | ".join(dirs) + " |")
    print("|---|" + "---|" * len(dirs))
    for k in cols[0]:
        print(f"| {k} | " + " | ".join(str(c[k]) for c in cols) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
