#!/usr/bin/env python3
"""Statistics of an analytics fixture set, side by side for several
directories: the figures gen.fixture is calibrated to.

  python3 perfbench/fixture_stats.py <fixture_dir> [<fixture_dir> ...]

Prints one markdown table row per statistic, one column per directory.
"""
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq


def stats(d):
    con = duckdb.connect()
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    one = lambda q: con.sql(q).fetchone()
    out = {}
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events", "documents"):
        out[f"{t} rows"] = one(f"SELECT count(*) FROM {t}")[0]
    out["c_acctbal min / max"] = "%.2f / %.2f" % one("SELECT min(c_acctbal), max(c_acctbal) FROM customer")
    out["p_name distinct"] = one("SELECT count(DISTINCT p_name) FROM part")[0]
    out["o_orderdate min / max / distinct"] = "%s / %s / %d" % one(
        "SELECT min(o_orderdate)::date, max(o_orderdate)::date, count(DISTINCT o_orderdate) FROM orders")
    out["o_totalprice min / max"] = "%.0f / %.0f" % one("SELECT min(o_totalprice), max(o_totalprice) FROM orders")
    out["l_orderkey distinct"] = one("SELECT count(DISTINCT l_orderkey) FROM lineitem")[0]
    out["l_shipdate min / max"] = "%s / %s" % one("SELECT min(l_shipdate)::date, max(l_shipdate)::date FROM lineitem")
    out["l_discount / l_tax distinct"] = "%d / %d" % one(
        "SELECT count(DISTINCT l_discount), count(DISTINCT l_tax) FROM lineitem")
    out["events users / types / days"] = "%d / %d / %d" % one(
        "SELECT count(DISTINCT user_id), count(DISTINCT event_type), count(DISTINCT ts::date) FROM events")
    out["events value min / median / mean"] = "%.2f / %.2f / %.2f" % one(
        "SELECT min(value), median(value), avg(value) FROM events")
    out["events props distinct"] = one("SELECT count(DISTINCT props) FROM events")[0]

    texts = [r[0] for r in con.sql("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    toks = [t.split(" ") for t in texts]
    lens = np.array([len(t) for t in toks])
    out["documents vocabulary"] = len({w for t in toks for w in t})
    out["documents words min / mean / max"] = "%d / %.1f / %d" % (lens.min(), lens.mean(), lens.max())
    out["documents exact duplicate texts"] = len(texts) - len(set(texts))
    index = {t: k for k, t in enumerate(texts)}
    copies = [k for k, t in enumerate(texts) if t.endswith(" dup") and t[:-4] in index]
    out["documents that are another + ' dup'"] = "%d (%.1f%%)" % (len(copies), 100.0 * len(copies) / len(texts))
    out["... whose source has a larger doc_id"] = sum(index[texts[k][:-4]] > k for k in copies)
    out["documents lang en share"] = "%.3f" % one("SELECT avg((lang = 'en')::int) FROM documents")[0]

    e = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    v = np.array(e["embedding"], dtype=np.float64)
    lab = np.array(e["label"])
    out["embeddings rows / dim / labels"] = "%d / %d / %d" % (len(v), v.shape[1], len(set(lab)))
    cos = (v / np.linalg.norm(v, axis=1, keepdims=True)) @ (v / np.linalg.norm(v, axis=1, keepdims=True)).T
    same = lab[:, None] == lab[None, :]
    off = ~np.eye(len(v), dtype=bool)
    out["embeddings norm min / max"] = "%.4f / %.4f" % (np.linalg.norm(v, axis=1).min(), np.linalg.norm(v, axis=1).max())
    out["embeddings cosine same label / other label"] = "%.3f / %.3f" % (cos[same & off].mean(), cos[~same].mean())
    np.fill_diagonal(cos, -1.0)
    out["embeddings nearest-neighbour cosine p50 / max"] = "%.3f / %.3f" % (np.median(cos.max(1)), cos.max())
    return out


def main(dirs):
    cols = [stats(d) for d in dirs]
    print("| statistic | " + " | ".join(dirs) + " |")
    print("| --- |" + " --- |" * len(dirs))
    for k in cols[0]:
        print(f"| {k} | " + " | ".join(str(c[k]) for c in cols) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
