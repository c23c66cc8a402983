#!/usr/bin/env python3
"""Measure the traffic properties the benchmark's generators use.

    python3 perfbench/measure_fixtures.py <fixture-dir>

<fixture-dir> holds the program's generated fixture tables
(`documents.parquet`, `events.parquet`, `embeddings.parquet`; see
TESTDATA.md). The benchmark itself never reads them: it runs where only its
own files exist, so it generates inputs with the properties printed here.
The constants in Curation.scala and StreamIngest.scala were set from the
output at the largest fixture scale. Needs the `duckdb` and `numpy` modules.
"""
import collections
import json
import statistics
import sys
from pathlib import Path

import duckdb
import numpy as np


def documents(con, path):
    rows = con.sql(f"SELECT text FROM '{path}' ORDER BY doc_id").fetchall()
    toks = [r[0].split() for r in rows]
    lens = [len(t) for t in toks]
    words = collections.Counter(w for t in toks for w in t)
    texts = collections.Counter(r[0] for r in rows)
    # Near copies: documents equal to another document plus one appended token.
    bodies = set(" ".join(t) for t in toks)
    near = [t for t in toks if len(t) > 1 and " ".join(t[:-1]) in bodies]
    appended = collections.Counter(t[-1] for t in near)
    return {
        "docs": len(rows),
        "tokens_min": min(lens), "tokens_max": max(lens),
        "tokens_deciles": statistics.quantiles(lens, n=10),
        "vocabulary": len(words),
        "word_share_min": min(words.values()) / sum(words.values()),
        "word_share_max": max(words.values()) / sum(words.values()),
        "exact_copy_share": sum(v - 1 for v in texts.values()) / len(rows),
        "near_copy_share": len(near) / len(rows),
        "near_copy_appended_tokens": dict(appended.most_common(3)),
    }


def events(con, path):
    rows = con.sql(
        f"SELECT epoch_ms(ts), user_id, event_type FROM '{path}' ORDER BY event_id").fetchall()
    n = len(rows)
    ts = [r[0] for r in rows]
    high, out_of_order = -1, 0
    for t in ts:
        out_of_order += t < high
        high = max(high, t)
    keys = set((r[1], r[2]) for r in rows)
    span_s = (max(ts) - min(ts)) / 1000
    return {
        "events": n,
        "users": len(set(r[1] for r in rows)),
        "event_types": dict(collections.Counter(r[2] for r in rows)),
        "keys": len(keys),
        "duplicate_key_share": 1 - len(keys) / n,
        "out_of_order_share": out_of_order / n,
        "span_days": span_s / 86400,
        "rate_per_s": n / span_s,
    }


def embeddings(con, path):
    rows = con.sql(f"SELECT label, embedding FROM '{path}'").fetchall()
    x = np.array([r[1] for r in rows])
    y = np.array([r[0] for r in rows])
    labels = sorted(set(y.tolist()))
    centres = np.array([x[y == l].mean(0) for l in labels])
    return {
        "vectors": len(rows), "dim": x.shape[1], "labels": len(labels),
        "mean_norm": float(np.linalg.norm(x, axis=1).mean()),
        "centre_spread_per_dim": float(centres.std()),
        "within_spread_per_dim": float((x - centres[np.searchsorted(labels, y)]).std()),
    }


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = Path(sys.argv[1])
    con = duckdb.connect()
    print(json.dumps({
        "documents": documents(con, d / "documents.parquet"),
        "events": events(con, d / "events.parquet"),
        "embeddings": embeddings(con, d / "embeddings.parquet"),
    }, indent=2))


if __name__ == "__main__":
    main()
