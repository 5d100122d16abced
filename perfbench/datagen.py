"""Seeded fixture tables in the sf-layout the ``io/fixtures`` loaders read.

The benchmark never reads data it did not make: every table here is a
pure function of ``(seed, sizes)``, written as one parquet file per
table under a directory inside the checkout. Schemas, value ranges and
time spans follow the sf0.1 test fixtures (events in January 2024,
lineitem ship dates 1995-01-02 .. 2001-11-04, a 31-word corpus
vocabulary, unit-norm 64-d embeddings), so the path corpus's time
constants and every loader's projections apply unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

JAN_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
SHIP_LO_US = 788_832_000_000_000  # 1995-01-02
SHIP_DAYS = 2498  # through 2001-11-04


def events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    # supplier keys are Zipf-skewed so heavy-hitter sketches have heavy hitters
    supp = (rng.zipf(1.3, n) - 1) % 1000
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
            "l_suppkey": pa.array(supp.astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                SHIP_LO_US + rng.integers(0, SHIP_DAYS, n) * DAY_US, pa.timestamp("us")
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-vocabulary documents with planted duplicates: ~2% exact
    copies and ~8% near copies (one token swapped) of earlier documents,
    so dedup, canonical-keep and span-scrub rows have work to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten cluster centres; ~5% are near copies of
    an earlier vector so semantic dedup finds pairs."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    near = np.flatnonzero(rng.random(n) < 0.05)
    near = near[near > 0]
    src = (rng.random(len(near)) * near).astype(np.int64)
    vec[near] = vec[src] + rng.normal(scale=1e-3, size=(len(near), dim))
    label[near] = label[src]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def nation_region() -> "dict[str, pa.Table]":
    return {
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
    }


def write_tables(out_dir: str, seed: int, sizes: "dict[str, int]") -> str:
    """Write the named tables (``{"events": rows, ...}``) plus nation and
    region into ``out_dir``; returns ``out_dir``. Each table draws from
    its own stream of ``seed`` so changing one size leaves the others
    byte-identical."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": events,
        "lineitem": lineitem,
        "documents": documents,
        "embeddings": embeddings,
    }
    tables = nation_region()
    for i, (name, rows) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i, rows])
        tables[name] = makers[name](rng, rows)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
