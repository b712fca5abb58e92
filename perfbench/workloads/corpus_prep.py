"""The corpus half of the analytics workload: LLM-pipeline corpus
operators over a seeded corpus.

It runs the north-star operators from the registry
(quality filtering, exact/MinHash/SimHash/embedding dedup, IVF probe
and a pandas UDF) against a synthetic ``documents`` + ``embeddings``
corpus with planted exact and near duplicates and Zipf-skewed sources.
Every result is compared by fingerprint with the registry's DuckDB
oracle; the exact-duplicate count and the recall of planted
near-duplicate pairs are checked against the generator's ground truth.
"""

from __future__ import annotations

import checks
import datagen

SIZES = {
    "full": {"docs": 2000, "vecs": 1000, "events": 2000},
    "tiny": {"docs": 300, "vecs": 200, "events": 600},
}
OPS = (
    "text_quality_filter_per_source", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_lsh", "ann_ivf_probe", "udf_pandas_scalar",
)
PAIR_OPS = ("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_lsh")
MIN_RECALL = 0.9


def plan(run):
    """Every round runs each op once, in a fixed order; the seed only
    shapes the inputs."""
    r = 0
    while True:
        yield [{"i": f"{r}.{n}", "op": op, "kind": "read"} for n, op in enumerate(OPS)]
        r += 1


def make_inputs(run) -> None:
    size = SIZES[run.args.size]
    docs, emb, truth = datagen.corpus_tables(
        run.args.seed, size["docs"], size["vecs"], exact_frac=0.05, near_frac=0.05
    )
    events, _ = datagen.events_table(run.args.seed, size["events"], 300, 0.05)
    datagen.write_tables({"documents": docs, "embeddings": emb, "events": events}, run.data_dir)
    from walden_spark.registry import load_all

    reg = load_all()
    con = checks.duck(run.data_dir)
    run.expected.update((op, checks.fingerprint(con.execute(reg[op].oracle).df())) for op in OPS)
    con.close()
    run.truth = truth


def execute(run, spec):
    return run.build(spec["op"])


def check(run, spec, result) -> bool:
    op = spec["op"]
    ok = checks.fingerprint(result) == run.expected[op]
    if op in PAIR_OPS:
        run.count("operators.pairs_out", len(result))
    if op == "dedup_exact":
        # one output row per distinct text of the corpus
        ok = ok and len(result) == run.truth["distinct_texts"]
    if op == "dedup_minhash_lsh":
        found = set(zip(result["a_id"].astype(int), result["b_id"].astype(int)))
        planted = set(run.truth["near_pairs"])
        run.recall = len(found & planted) / max(1, len(planted))
        ok = ok and run.recall >= MIN_RECALL
    return ok


def finish(run):
    return True, {"operators.dedup_recall": getattr(run, "recall", 0.0)}
