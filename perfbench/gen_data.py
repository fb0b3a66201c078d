"""Deterministic input tables for the benchmark.

The tables have the schema and value distributions of the repository's
`events` and `documents` fixtures (see TESTDATA.md): `events` is a
time-ordered stream of five event types over 30 days, `documents` a small
text corpus with a few exact and near duplicates. The data seed is fixed,
so every run and every checkout sees byte-identical inputs; the workload
seed (run.py) only varies the batch schedule and the op order.

    python3 perfbench/gen_data.py <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated bytes change, so cached copies are rebuilt
VERSION = 1
# one dataset per workload: the pipeline scores id ranges of an
# sf0.1-sized stream; the stream ops replay an sf0.01-sized one
SETS = {"pipeline": {"events": 100_000, "documents": 500},
        "streams": {"events": 10_000, "documents": 500}}
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000


def events(rng, n):
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // 67, 1), n)
                            .astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.maximum(
            np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array(['{"k": %d}' % v for v in k]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.03:    # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.10:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    lang = LANGS[np.minimum(rng.integers(0, 7, n) - 2, 4).clip(0)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def generate(out_dir):
    """Writes every dataset under out_dir (skipped when already there)."""
    stamp = os.path.join(out_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read().strip() == str(VERSION):
        return
    manifest = {}
    for name, sizes in SETS.items():
        # one random stream per dataset (the names differ in length)
        rng = np.random.default_rng([DATA_SEED, len(name)])
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        ev = events(rng, sizes["events"])
        pq.write_table(ev, os.path.join(d, "events.parquet"))
        pq.write_table(documents(rng, sizes["documents"]),
                       os.path.join(d, "documents.parquet"))
        manifest[name] = sizes
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    with open(stamp, "w") as f:
        f.write(str(VERSION))


if __name__ == "__main__":
    generate(sys.argv[1])
