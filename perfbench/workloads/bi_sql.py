"""The BI half of the analytics workload: dashboards and TPC-H reports
over the star schema.

Each client has its own ``WaldenSession`` (one BI connection apiece)
over the shared Spark session. Every round runs the 22 TPC-H registry
builders and each prepared dashboard statement twice, in a fixed order;
dashboards bind seeded date windows, segments, nations and discount
caps through ``PREPARE``/``EXECUTE``. Results are fetched to the client
and compared by fingerprint with DuckDB running the registry's oracle
SQL (or the same dashboard SQL) on the same files.
"""

from __future__ import annotations

import numpy as np

import checks
import datagen

SF = {"full": 0.01, "tiny": 0.001}

TPCH = (
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4_exists", "tpch_q5", "tpch_q6",
    "tpch_q7", "tpch_q8", "tpch_q9_profit", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18",
    "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
)

_WINDOW = "o_orderdate >= CAST(? AS TIMESTAMP) AND o_orderdate < CAST(? AS TIMESTAMP)"
DASHBOARDS = {
    "dash_revenue_by_segment": (
        "SELECT c_mktsegment AS segment, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE {_WINDOW} GROUP BY c_mktsegment",
        ("window",),
    ),
    "dash_priority_mix": (
        "SELECT o_orderpriority AS priority, o_orderstatus AS status, COUNT(*) AS n "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE c_mktsegment = ? AND {_WINDOW} "
        "GROUP BY o_orderpriority, o_orderstatus",
        ("segment", "window"),
    ),
    "dash_monthly_shipments": (
        "SELECT CAST(date_trunc('MONTH', l_shipdate) AS DATE) AS month, "
        "l_returnflag AS flag, CAST(SUM(l_quantity) AS BIGINT) AS qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
        "* (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS net "
        "FROM lineitem WHERE l_shipdate >= CAST(? AS TIMESTAMP) "
        "AND l_shipdate < CAST(? AS TIMESTAMP) AND l_discount <= ? "
        "GROUP BY 1, 2",
        ("window", "discount"),
    ),
    "dash_top_customers": (
        "SELECT c_custkey, c_name, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend, "
        "COUNT(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE c_nationkey = ? AND {_WINDOW} "
        "GROUP BY c_custkey, c_name ORDER BY spend DESC, c_custkey LIMIT 10",
        ("nation", "window"),
    ),
}


def _palette(seed: int) -> dict:
    """The seeded parameter values dashboards draw from: date windows of
    one month to two years (so selectivity varies), segments, nations
    and discount caps."""
    rng = np.random.default_rng([seed, 10])
    windows = []
    for _ in range(4):
        start = np.datetime64("1995-01-01") + int(rng.integers(0, 2000))
        end = start + int(rng.choice([30, 91, 182, 365, 730]))
        windows.append((str(start), str(end)))
    return {
        "window": windows,
        "segment": list(datagen.SEGMENTS),
        "nation": [int(x) for x in rng.choice(25, 3, replace=False)],
        "discount": [0.02, 0.05, 0.08],
    }


def _bind(dash: str, choice: dict) -> list:
    out = []
    for slot in DASHBOARDS[dash][1]:
        out.extend(choice[slot] if slot == "window" else [choice[slot]])
    return out


def _combos(palette: dict, dash: str):
    slots = DASHBOARDS[dash][1]
    grid = [{}]
    for slot in slots:
        grid = [dict(g, **{slot: v}) for g in grid for v in palette[slot]]
    return grid


def _key(dash: str, params: list) -> str:
    return dash + repr(params)


def plan(run):
    """Op rounds: every round runs the 22 TPC-H builders and each
    dashboard twice, in a fixed order; the seed draws the dashboard
    parameters."""
    seed = run.args.seed
    palette = _palette(seed)
    r = 0
    while True:
        rng = np.random.default_rng([seed, 11, r])
        ops = [{"op": q} for q in TPCH]
        for dash in DASHBOARDS:
            for _ in range(2):
                combos = _combos(palette, dash)
                choice = combos[int(rng.integers(0, len(combos)))]
                ops.append({"op": dash, "params": _bind(dash, choice)})
        yield [dict(op, i=f"{r}.{n}", kind="read") for n, op in enumerate(ops)]
        r += 1


def make_inputs(run) -> None:
    datagen.write_tables(datagen.tpch_tables(run.args.seed, SF[run.args.size]), run.data_dir)
    from walden_spark.registry import load_all

    reg = load_all()
    con = checks.duck(run.data_dir)
    for q in TPCH:
        run.expected[q] = checks.fingerprint(con.execute(reg[q].oracle).df())
    palette = _palette(run.args.seed)
    for dash, (sql, _) in DASHBOARDS.items():
        for choice in _combos(palette, dash):
            params = _bind(dash, choice)
            run.expected[_key(dash, params)] = checks.fingerprint(con.execute(sql, params).df())
    con.close()


def register(run, n_clients: int) -> None:
    from walden_spark.session import WaldenSession

    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        run.spark.read.parquet(f"{run.data_dir}/{t}.parquet").createOrReplaceTempView(t)
    run.clients = [WaldenSession(run.spark) for _ in range(n_clients)]
    for ws in run.clients:
        for dash, (sql, _) in DASHBOARDS.items():
            ws.sql(f"PREPARE {dash} FROM {sql}")


def first_op(run) -> None:
    run.build("tpch_q6")


def _literal(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def execute(run, spec):
    if spec["op"] in DASHBOARDS:
        ws = run.clients[spec["thread"]]
        using = ", ".join(_literal(v) for v in spec["params"])
        with run.tracer.span(f"queries.{spec['op']}"):
            return run.fetch(ws.sql(f"EXECUTE {spec['op']} USING {using}"), "queries")
    return run.build(spec["op"])


def check(run, spec, result) -> bool:
    key = _key(spec["op"], spec["params"]) if "params" in spec else spec["op"]
    return checks.fingerprint(result) == run.expected[key]
