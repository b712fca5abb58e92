"""lake_ingest: commits and time-travel reads on one versioned table.

One closed-loop client over a ``VersionedTable`` bootstrapped from
``orders`` and registered with ``WaldenSession.register_versioned``.
Each round runs 14 ops that alternate writes and reads in a fixed
order, with seeded parameters:

* writes: ``append`` batches, ``upsert_keys`` with seeded key overlap,
  ``delete_keys``, SQL ``DELETE`` and SQL ``MERGE`` through
  ``WaldenSession.sql``; every commit is followed by ``maybe_compact``
  and ``maybe_compact_manifests``, and every second by
  ``expire_versions``. One write a round goes to a plain-Parquet twin
  through ``Catalog.merge_into``/``Catalog.delete_where`` instead, the
  copy-on-write path, and one is the registry's streaming upsert
  ingest (``streaming_mor_upsert``: foreachBatch into its own
  versioned table);
* reads: head aggregates, ``FOR VERSION AS OF k``, ``scan(filters)``
  on a key range and ``read_changes`` since a retained version, k and
  that version a fixed number of retained versions back from the head.

The benchmark replays the op log on an in-memory model of the table
(``record``, between ops and outside the measured window) and checks
every read against it; after the window it checks the final table and
the twin against their models.
"""

from __future__ import annotations

import decimal
import os
import shutil

import numpy as np
import pandas as pd

import checks
import datagen
import probes

THREADS = 1
ROUND_S = 10 / 3  # --seconds 10 measures three rounds
SF = {"full": 0.01, "tiny": 0.001}
EXPIRE_EVERY, KEEP_LAST, MAX_LAYERS = 2, 4, 3
N_EVENTS = {"full": 2000, "tiny": 400}
# One round, in this fixed order: writes and reads alternate, so the
# maintenance policy fires at the same points of every run; the seed
# draws keys, batches, overlaps and ranges. Time-travel reads go back a
# fixed number of retained versions (DEPTH), so every run reads the same
# shape of history: how far back a change feed starts decides whether it
# replays merge-on-read layers or diffs a rewritten snapshot, a 5x
# difference in cost.
ROUND = (
    "append", "head_agg", "upsert", "version_as_of", "delete_keys", "scan_range",
    "sql_delete", "changes", "sql_merge", "version_as_of", "twin", "head_agg",
    "stream_upsert", "scan_range",
)
KIND = {op: "read" if op in ("head_agg", "version_as_of", "scan_range", "changes") else "commit"
        for op in ROUND}
WARMUP = len(ROUND)  # all of round 0, so the timed rounds run warm
DEPTH = {"version_as_of": (2, 4), "changes": (3,)}


def _n_orders(size: str) -> int:
    return int(1_500_000 * SF[size])


def plan(run):
    """Seeded op rounds. New keys come from a counter the plan itself
    advances, so the sequence never depends on the engine's answers."""
    seed, n0 = run.args.seed, _n_orders(run.args.size)
    next_key, r, seen = n0, 0, {}  # seen: per-kind op counts across rounds
    while True:
        rng = np.random.default_rng([seed, 20, r])
        ops = []
        for n, op in enumerate(ROUND):
            spec = {"i": f"{r}.{n}", "op": op, "kind": KIND[op], "seed": int(rng.integers(0, 2**31))}
            if op in ("append", "upsert", "sql_merge", "twin"):
                spec["new_from"] = next_key
                next_key += 100
            if op in ("upsert", "sql_merge", "twin"):
                spec["overlap"] = float(rng.uniform(0.4, 0.6))
            if op == "twin":  # merge and delete cost differently: alternate by round
                spec["twin_op"] = ("merge", "delete")[seen.setdefault("twin", 0) % 2]
                seen["twin"] += 1
            if op in DEPTH:
                k = seen[op] = seen.get(op, -1) + 1
                spec["depth"] = DEPTH[op][k % len(DEPTH[op])]
            spec["key_hi"] = next_key
            spec["back"] = float(rng.random())
            ops.append(spec)
        yield ops
        r += 1


# ---- the replay model ----


class Model:
    """Rows by key, plus what every retained version looked like (as
    aggregates) and what each commit changed."""

    def __init__(self, rows: dict):
        self.rows = rows
        self.aggs: dict[int, tuple] = {}
        self.changes: dict[int, tuple[int, int]] = {}
        self.layers = 0

    def agg(self, lo=None, hi=None) -> tuple:
        vals = [v for k, v in self.rows.items() if (lo is None or lo <= k < hi)]
        return (len(vals), sum(v[0] for v in vals), sum(v[1] for v in vals), sum(v[2] for v in vals))

    def commit(self, version: int, ins: int, dels: int, layer: bool) -> None:
        self.aggs[version] = self.agg()
        self.changes[version] = (ins, dels)
        self.layers = self.layers + 1 if layer else 0


def _rows(pdf: pd.DataFrame):
    """Model rows of a batch: (key, custkey, price in cents), the
    columns the checked aggregates read."""
    for k, c, p in zip(pdf["o_orderkey"], pdf["o_custkey"], pdf["o_totalprice"]):
        yield (int(k), int(c), int(round(p * 100)))


def _batch(spec, n0: int) -> pd.DataFrame:
    """100 rows: ``overlap`` of them reuse keys below the new-key range
    (updates when still live), the rest are new keys."""
    rng = np.random.default_rng(spec["seed"])
    n = 100
    n_old = int(n * spec.get("overlap", 0.0))
    old = rng.choice(spec["new_from"], n_old, replace=False) if n_old else np.array([], np.int64)
    new = np.arange(spec["new_from"], spec["new_from"] + n - n_old)
    keys = np.concatenate([old, new]).astype(np.int64)
    return pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, max(1, n0 // 10), n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n),
        "o_totalprice": rng.integers(100_191, 49_999_318, n) / 100.0,
        "o_orderdate": pd.to_datetime(
            datagen.ORDER_EPOCH_MS + rng.integers(0, datagen.ORDER_SPAN_DAYS, n) * datagen.DAY_MS,
            unit="ms",
        ),
        "o_orderpriority": rng.choice(datagen.PRIORITIES, n),
    })


# ---- harness hooks ----


def make_inputs(run) -> None:
    tables = datagen.tpch_tables(run.args.seed, SF[run.args.size])
    events, _ = datagen.events_table(run.args.seed, N_EVENTS[run.args.size], 200, 0.05)
    datagen.write_tables({"orders": tables["orders"], "events": events}, run.data_dir)
    from walden_spark.registry import load_all

    con = checks.duck(run.data_dir)
    run.expected["stream_upsert"] = checks.fingerprint(
        con.execute(load_all()["streaming_mor_upsert"].oracle).df()
    )
    con.close()
    run.base_rows = {t[0]: t for t in _rows(tables["orders"].to_pandas())}


def register(run, rep: int) -> None:
    from walden_spark.catalog import Catalog
    from walden_spark.session import WaldenSession
    from walden_spark.timetravel import VersionedTable

    path = os.path.join(run.work, "lake", f"orders_r{rep}")
    orders = run.spark.read.parquet(f"{run.data_dir}/orders.parquet")
    v0 = VersionedTable(run.spark, path).write(orders)
    run.ws = WaldenSession(run.spark)
    run.vt = run.ws.register_versioned("lake", path)
    run.schema = orders.schema
    run.catalog = Catalog(run.spark)
    # the previous set-up's session is gone, its table files are not
    shutil.rmtree(os.path.join(run.warehouse, "orders_twin"), ignore_errors=True)
    run.catalog.write_table(orders, "orders_twin")
    run.model = Model(dict(run.base_rows))
    run.model.commit(v0, len(run.base_rows), 0, False)
    run.twin = dict(run.base_rows)
    run.retained = [v0]
    run.commits = 0
    run.table_path = path
    if rep:
        shutil.rmtree(os.path.join(run.work, "lake", f"orders_r{rep - 1}"), ignore_errors=True)


def first_op(run) -> None:
    _agg_fetch(run, run.vt.read(branch="main"))


def _agg_fetch(run, df, layer="timetravel") -> tuple:
    from pyspark.sql import functions as F

    pdf = run.fetch(df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sk"),
        F.sum("o_custkey").alias("sc"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("cents"),
    ), layer)
    r = pdf.iloc[0]
    cents = r["cents"]
    cents = 0 if cents is None or (isinstance(cents, float) and np.isnan(cents)) else int(decimal.Decimal(cents) * 100)
    n = int(r["n"])
    return (n, int(r["sk"]) if n else 0, int(r["sc"]) if n else 0, cents)


def prepare_round(run, ops) -> None:
    """Build the round's input batches, key sets and ranges before its
    clock starts."""
    n0 = _n_orders(run.args.size)
    for spec in ops:
        op = spec["op"]
        if op in ("append", "upsert", "sql_merge", "twin"):
            pdf = _batch(spec, n0)
            spec["_rows"] = pdf
            spec["_df"] = run.spark.createDataFrame(pdf, schema=run.schema)
            if op == "sql_merge":
                spec["_view"] = "lake_src_" + spec["i"].replace(".", "_")
                spec["_df"].createOrReplaceTempView(spec["_view"])
        if op == "delete_keys":
            rng = np.random.default_rng(spec["seed"])
            keys = rng.choice(spec["key_hi"] + 10, 60, replace=False).astype(np.int64)
            spec["_keys"] = keys
            spec["_df"] = run.spark.createDataFrame(pd.DataFrame({"o_orderkey": keys}))
        if op in ("sql_delete", "scan_range", "twin"):
            lo = int(spec["back"] * max(1, spec["key_hi"] - 200))
            spec["_range"] = (lo, lo + 40 if op != "scan_range" else lo + 2000)


def _commit(run, spec) -> int:
    op, vt = spec["op"], run.vt
    if op == "append":
        return vt.append(spec["_df"])
    if op == "upsert":
        return vt.upsert_keys(spec["_df"], on=["o_orderkey"])
    if op == "delete_keys":
        return vt.delete_keys(spec["_df"], on=["o_orderkey"])
    if op == "sql_delete":
        lo, hi = spec["_range"]
        receipt = run.ws.sql(f"DELETE FROM lake WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
    else:
        src = spec["_view"]
        receipt = run.ws.sql(
            f"MERGE INTO lake USING {src} ON lake.o_orderkey = {src}.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    return int(run.fetch(receipt, "session")["version"].iloc[0])


def _maintain(run) -> tuple[list[int], set[int]]:
    """The maintenance policy every commit runs: auto-compaction and
    manifest compaction when their thresholds fire, version expiry
    every EXPIRE_EVERY commits. Returns the versions it committed and
    the versions it expired."""
    vt = run.vt
    made = [v for v in (vt.maybe_compact(max_layers=MAX_LAYERS), vt.maybe_compact_manifests())
            if v is not None]
    run.commits += 1
    expired = set(vt.expire_versions(keep_last=KEEP_LAST)) if run.commits % EXPIRE_EVERY == 0 else set()
    return made, expired


def execute(run, spec):
    op, vt = spec["op"], run.vt
    if op in DEPTH:  # a fixed number of retained versions back from the head
        vs = run.retained
        spec["_version"] = vs[max(0, len(vs) - 1 - spec["depth"])]
        spec["_head"] = vs[-1]
    if op == "stream_upsert":
        return run.build("streaming_mor_upsert")
    if KIND[op] == "commit" and op != "twin":
        version = _commit(run, spec)
        return (version,) + _maintain(run)
    if op == "twin":
        if spec["twin_op"] == "merge":
            run.catalog.merge_into("orders_twin", spec["_df"], on=["o_orderkey"])
        else:
            lo, hi = spec["_range"]
            run.catalog.delete_where("orders_twin", f"o_orderkey >= {lo} AND o_orderkey < {hi}")
        return None
    if op == "head_agg":
        return _agg_fetch(run, vt.read(branch="main"))
    if op == "version_as_of":
        return _agg_fetch(run, run.ws.sql(f"SELECT * FROM lake FOR VERSION AS OF {spec['_version']}"))
    if op == "scan_range":
        lo, hi = spec["_range"]
        df = vt.scan(filters=[("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)])
        spec["_scan_df"] = df
        return _agg_fetch(run, df)
    if op == "changes":
        df = vt.read_changes(spec["_version"])
        pdf = run.fetch(df.groupBy("_change_type").count(), "timetravel")
        got = dict(zip(pdf["_change_type"], pdf["count"]))
        return (int(got.get("insert", 0)), int(got.get("delete", 0)))
    raise ValueError(op)


def _apply_commit(run, spec, version) -> None:
    """Replay one commit on the model."""
    m, op = run.model, spec["op"]
    ins = dels = 0
    if op in ("append", "upsert", "sql_merge"):
        for t in _rows(spec["_rows"]):
            dels += t[0] in m.rows  # an update reads as delete + insert
            ins += 1
            m.rows[t[0]] = t
    elif op == "delete_keys":
        for k in spec["_keys"]:
            dels += m.rows.pop(int(k), None) is not None
    elif op == "sql_delete":
        lo, hi = spec["_range"]
        for k in [k for k in m.rows if lo <= k < hi]:
            del m.rows[k]
            dels += 1
    m.commit(version, ins, dels, layer=op != "sql_merge")
    run.retained.append(version)


def record(run, spec, result) -> None:
    """Replay the op on the models and note the verdict its check
    reports after the window."""
    op, m = spec["op"], run.model
    if run.args.trace and KIND[op] == "read":
        run.sample("timetravel.layers_at_read", m.layers)
    if op == "stream_upsert":
        ok = checks.fingerprint(result) == run.expected["stream_upsert"]
    elif op == "twin":  # the twin's table is checked against its model in finish
        if spec["twin_op"] == "merge":
            run.twin.update((t[0], t) for t in _rows(spec["_rows"]))
        else:
            lo, hi = spec["_range"]
            for k in [k for k in run.twin if lo <= k < hi]:
                del run.twin[k]
        ok = result is None
    elif KIND[op] == "commit":
        version, made, expired = result
        ok = isinstance(version, int) and version > run.retained[-1]
        _apply_commit(run, spec, version)
        for v in made:
            m.commit(v, 0, 0, layer=False)
            run.retained.append(v)
        run.retained = [v for v in run.retained if v not in expired]
    elif op == "head_agg":
        ok = result == m.agg()
    elif op == "version_as_of":
        ok = result == m.aggs[spec["_version"]]
    elif op == "scan_range":
        if run.args.trace:
            kept = len(spec["_scan_df"].inputFiles())
            total = len(run.vt.read(branch="main").inputFiles())
            run.sample("timetravel.scan_files_kept_frac", kept / max(1, total))
        ok = result == m.agg(*spec["_range"])
    elif op == "changes":
        want = [c for v, c in m.changes.items() if spec["_version"] < v <= spec["_head"]]
        ok = result == (sum(c[0] for c in want), sum(c[1] for c in want))
    else:
        raise ValueError(op)
    spec["_ok"] = ok


def check(run, spec, result) -> bool:
    return spec["_ok"]


def corrupt(result):
    if isinstance(result, pd.DataFrame):
        return result.assign(corrupted=1)
    if result is None or isinstance(result[1], list):  # twin op, or a commit
        return (-1, [], set())
    return (result[0] + 1,) + result[1:]


def finish(run):
    """Whole-table checks of the head and the twin against their models,
    then the export that space amplification is measured against."""
    from pyspark.sql import functions as F

    head = run.fetch(
        run.vt.read(branch="main").select(
            "o_orderkey", "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
        ),
        "timetravel",
    )
    got = {int(k): (int(k), int(c), int(decimal.Decimal(p) * 100))
           for k, c, p in zip(head["o_orderkey"], head["o_custkey"], head["p"])}
    ok = len(got) == len(head) and got == run.model.rows
    ok = ok and _agg_fetch(run, run.spark.table("orders_twin"), "catalog") == Model(run.twin).agg()
    export = os.path.join(run.work, "export")
    run.vt.export_snapshot(export)
    table_mb = probes.dir_mb(run.table_path)
    extra = {
        "space_amp": table_mb / max(1e-9, probes.dir_mb(export)),
        "timetravel.table_mb": table_mb,
        "timetravel.versions": len(run.vt.history().collect()),
        "catalog.table_mb": probes.dir_mb(os.path.join(run.warehouse, "orders_twin")),
    }
    return ok, extra
