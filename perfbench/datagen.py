"""Seeded input generators for the benchmark.

Every table has the fixture schema the engine's registry reads
(FIXTURES.md): the TPC-H-ish star schema, the ``events`` stream table
and the ``documents``/``embeddings`` corpus. Inputs derive only from
the seed, so one seed always yields byte-identical tables.

The generators also return the ground truth the workloads check
against: planted exact and near duplicates in the corpus, and the
share of late, out-of-order events in the stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = [
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "value", "vector", "window",
]
LANGS = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
N_SOURCES = 20

DAY_MS = 86_400_000
ORDER_EPOCH_MS = 788_918_400_000  # 1995-01-01
ORDER_SPAN_DAYS = 2404  # through 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _zipf_ids(rng, n: int, n_keys: int, a: float) -> np.ndarray:
    """Zipf-ranked keys in [0, n_keys): rank r drawn with weight 1/r^a,
    then mapped through a seeded permutation so the hot keys are not
    simply the smallest ids."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    ranks = rng.choice(n_keys, n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def _write(table: pa.Table, path: str) -> None:
    # the fixture files store every timestamp as int64 microseconds
    pq.write_table(table, path, compression="snappy", coerce_timestamps="us")


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(np.asarray(P_ADJ)[rng.integers(0, 8, n_part)], " "),
                    np.asarray(P_NOUN)[rng.integers(0, 8, n_part)],
                ).astype(object)
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
    }
    odate = ORDER_EPOCH_MS + rng.integers(0, ORDER_SPAN_DAYS + 1, n_ord) * DAY_MS
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 100_191, 49_999_318, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    lkey = np.repeat(np.arange(n_ord), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 90_068, 10_499_991, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            odate[lkey] + rng.integers(1, 96, n_li) * DAY_MS, pa.timestamp("ms")
        ),
    })
    return out


def events_table(seed: int, n: int, n_users: int, late_frac: float) -> tuple[pa.Table, int]:
    """Event stream in arrival (file) order. ``late_frac`` of the events
    carry a timestamp 1-120 minutes older than their arrival position —
    the out-of-order tail a watermark has to absorb. Users are
    Zipf-skewed. Returns the table and the number of late events."""
    rng = np.random.default_rng([seed, 2])
    ts = np.sort(EVENT_EPOCH_US + rng.integers(0, EVENT_SPAN_US, n))
    late = rng.random(n) < late_frac
    ts = np.where(late, ts - rng.integers(60, 7_200, n) * 1_000_000, ts)
    ts = np.maximum(ts, EVENT_EPOCH_US)
    table = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(_zipf_ids(rng, n, n_users, 1.1), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, 0, 56_021, n),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return table, int(late.sum())


def _shingles(words: list[str]) -> set[str]:
    return {"_".join(words[i:i + 3]) for i in range(len(words) - 2)}


def corpus_tables(
    seed: int, n_docs: int, n_vecs: int, exact_frac: float, near_frac: float
) -> tuple[pa.Table, pa.Table, dict]:
    """``documents`` + ``embeddings`` with planted duplicates.

    * exact duplicates: ``exact_frac`` of the docs copy an earlier doc's
      text verbatim under a new id;
    * near duplicates: ``near_frac`` of the docs copy an earlier doc of
      at least 40 words with one word substituted, kept only when the
      3-shingle Jaccard with the original is >= 0.85 (above the 0.8
      verify threshold of the MinHash operator);
    * embeddings: ``near_frac`` of the vectors are a small perturbation
      of an earlier vector.
    Sources are Zipf-skewed over 20 names.
    """
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    near_pairs: list[tuple[int, int]] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        if i > 10 and kinds[i] < exact_frac:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and kinds[i] < exact_frac + near_frac:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            if len(words) >= 40:
                for _ in range(8):
                    w = list(words)
                    pos = int(rng.integers(5, len(w) - 5))
                    w[pos] = VOCAB[(VOCAB.index(w[pos]) + int(rng.integers(1, len(VOCAB)))) % len(VOCAB)]
                    a, b = _shingles(words), _shingles(w)
                    if len(a & b) / len(a | b) >= 0.85:
                        texts.append(" ".join(w))
                        near_pairs.append((j, i))
                        break
                else:
                    texts.append(texts[j])
                continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in _zipf_ids(rng, n_docs, N_SOURCES, 1.2)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 0.1, (n_vecs, 64)).astype(np.float32)
    for i in range(10, n_vecs):
        if rng.random() < near_frac:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, 64).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return docs, emb, {"distinct_texts": len(set(texts)), "near_pairs": near_pairs}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
