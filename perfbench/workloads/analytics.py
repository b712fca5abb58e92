"""analytics: the read path — BI SQL and corpus prep on one session.

Two closed-loop clients share every round's ops: the bi_sql ops (the
22 TPC-H registry builders and the prepared dashboards) and the
corpus_prep ops (the LLM-pipeline corpus operators), in a seeded
order. Both read plain Parquet through the session and the registry;
neither touches the versioned-table, catalog or streaming layers, which
the lake_ingest workload exercises instead. Checks are those of the
two parts.
"""

from __future__ import annotations

from workloads import bi_sql, corpus_prep

WARMUP = 2
THREADS = 2
ROUND_S = 10.0  # --seconds 10 measures one round


def _part(spec):
    return corpus_prep if spec["op"] in corpus_prep.OPS else bi_sql


def plan(run):
    """Round r is bi_sql's round r interleaved with corpus_prep's round
    r, in a fixed order, so the corpus ops overlap the same BI ops in
    every run."""
    for r, (a, b) in enumerate(zip(bi_sql.plan(run), corpus_prep.plan(run))):
        ops = [x for pair in zip(b, a) for x in pair] + a[len(b):]
        yield [dict(op, i=f"{r}.{n}") for n, op in enumerate(ops)]


def make_inputs(run) -> None:
    bi_sql.make_inputs(run)
    corpus_prep.make_inputs(run)


def register(run, rep: int) -> None:
    bi_sql.register(run, THREADS)


def first_op(run) -> None:
    bi_sql.first_op(run)


def execute(run, spec):
    return _part(spec).execute(run, spec)


def check(run, spec, result) -> bool:
    return _part(spec).check(run, spec, result)


def corrupt(result):
    return result.assign(corrupted=1)


def finish(run):
    return corpus_prep.finish(run)
