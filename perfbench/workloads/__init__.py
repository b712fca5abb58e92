"""Benchmark workloads: ``analytics`` (built from the ``bi_sql`` and
``corpus_prep`` parts) and ``lake_ingest``. Each workload module
provides the hooks ``run.py`` drives: ``make_inputs``, ``register``,
``first_op``, ``plan``, ``execute``, ``check`` (called after the
measured window), ``corrupt`` and ``finish``, plus ``THREADS``,
``WARMUP`` and ``ROUND_S`` (a run measures round(--seconds / ROUND_S)
whole rounds, at least one, so how many rounds it holds never depends
on how fast the engine is). Optional: ``prepare_round`` (builds a round's inputs before
its clock starts) and ``record`` (bookkeeping after each op, kept out
of the window; single-client workloads only).

A plan yields rounds of ops in a fixed order; the seed draws the
inputs and the ops' parameters. A fixed order makes every run put the
same ops side by side and fire the same maintenance at the same
points, so runs differ only in their data.
"""
