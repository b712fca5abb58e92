"""Smoke-parity test: the reference's own end-to-end test, ported 1:1.

Reference: tf/test-hive.sh:1-30 + README.md:96-162 —
  mc rb/mb (bucket reset) → CREATE SCHEMA WITH (location=...) →
  CREATE TABLE dim_foo(key VARCHAR, val BIGINT) → INSERT 4 rows →
  SELECT back → mc ls -r (data files visible) → DROP leaves it clean.

This is the only behavior the reference itself demonstrates (SURVEY.md
§5.1/§7.2); everything else is proven via the oracle harness.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from walden_spark.catalog import Catalog
from walden_spark.storage import drop_bucket, ensure_bucket, list_objects

SCHEMA = "walden_smoke"
TABLE = f"{SCHEMA}.dim_foo"


@pytest.fixture()
def bucket(tmp_path):
    url = str(tmp_path / "direct")
    drop_bucket(url)      # mc rb --force   (test-hive.sh:9-10)
    ensure_bucket(url)    # mc mb           (test-hive.sh:11-12)
    yield url
    drop_bucket(url)


@pytest.fixture()
def cat(spark):
    c = Catalog(spark)
    c.drop_schema(SCHEMA)
    yield c
    c.drop_schema(SCHEMA)


def test_hive_sh_lifecycle(spark, cat, bucket):
    # CREATE SCHEMA ... WITH (location=...)       (test-hive.sh:21)
    cat.create_schema(SCHEMA, location=bucket)
    assert SCHEMA in [r[0] for r in cat.show_schemas().collect()]

    # CREATE TABLE dim_foo (key VARCHAR, val BIGINT)   (test-hive.sh:22)
    cat.create_table(TABLE, "key STRING, val BIGINT")
    assert "dim_foo" in [t.tableName for t in cat.show_tables(SCHEMA).collect()]
    desc = {r.col_name: r.data_type for r in cat.describe(TABLE).collect() if r.col_name}
    assert desc["key"] == "string" and desc["val"] == "bigint"

    # INSERT INTO dim_foo VALUES ...               (test-hive.sh:23)
    cat.insert_values(TABLE, "('this', 1), ('is', 2), ('a', 3), ('test', 4)")

    # SELECT key, val FROM dim_foo                 (test-hive.sh:24)
    rows = spark.table(TABLE).orderBy("val").collect()
    assert [(r.key, r.val) for r in rows] == [("this", 1), ("is", 2), ("a", 3), ("test", 4)]

    # mc ls -r: parquet data file(s) under the schema location
    # (test-hive.sh:27, README.md:140-143)
    files = [f for f in list_objects(bucket) if f.endswith(".parquet") or ".parquet" in f]
    assert files, "expected parquet data files under the schema location"
    assert all(f.startswith("dim_foo/") for f in files)

    # DROP TABLE / DROP SCHEMA leave storage clean (README.md:153-161)
    cat.drop_table(TABLE)
    cat.drop_schema(SCHEMA)
    assert not [f for f in list_objects(bucket) if "dim_foo" in f]


def test_ctas_and_views(spark, cat, bucket):
    cat.create_schema(SCHEMA, location=bucket)
    spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, grp long") \
        .createOrReplaceTempView("smoke_src")
    cat.ctas(f"{SCHEMA}.agg", "SELECT grp, COUNT(*) AS n FROM smoke_src GROUP BY grp")
    cat.create_view("smoke_v", f"SELECT * FROM {SCHEMA}.agg WHERE n > 0")
    assert spark.table("smoke_v").count() == 3
    cat.insert_select(f"{SCHEMA}.agg", "SELECT CAST(99 AS LONG), CAST(1 AS LONG)")
    assert spark.table(f"{SCHEMA}.agg").count() == 4


def test_delete_update_merge_cow(spark, cat, bucket):
    """Row-level DML emulation on plain Parquet (SURVEY §2.1 UPDATE/
    DELETE/MERGE; reference gets these from Iceberg, tf/main.tf:93-98)."""
    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.accounts"
    cat.create_table(t, "id BIGINT, bal DOUBLE, status STRING")
    cat.insert_values(t, "(1, 10.0, 'ok'), (2, -5.0, 'ok'), (3, 7.5, 'hold'), (4, NULL, 'ok')")

    cat.delete_where(t, F.col("bal") < 0)
    assert sorted(r.id for r in spark.table(t).collect()) == [1, 3, 4]  # NULL bal kept

    cat.update_where(t, {"status": F.lit("frozen")}, F.col("status") == "hold")
    assert {r.id: r.status for r in spark.table(t).collect()}[3] == "frozen"

    src = spark.createDataFrame(
        [(1, 100.0, "ok"), (9, 1.0, "new")], "id long, bal double, status string"
    )
    cat.merge_into(t, src, on=["id"])
    got = {r.id: (r.bal, r.status) for r in spark.table(t).collect()}
    assert got[1] == (100.0, "ok")       # matched → updated
    assert got[9] == (1.0, "new")        # not matched → inserted
    assert 3 in got and 4 in got         # untouched rows survive


def test_partition_scoped_rewrite(spark, cat, bucket):
    """Partition-pruned copy-on-write: only the predicated partition is
    rewritten (the 100TB path — dynamic partition overwrite)."""
    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.events_p"
    df = spark.createDataFrame(
        [(i, "d1" if i < 50 else "d2", float(i)) for i in range(100)],
        "id long, day string, v double",
    )
    cat.write_table(df, t, partition_by=["day"])
    before_d2 = {f for f in list_objects(bucket) if "day=d2" in f and f.endswith(".parquet")}

    cat.delete_where(t, F.col("id") < 10, partition_pred=F.col("day") == "d1")
    after_d2 = {f for f in list_objects(bucket) if "day=d2" in f and f.endswith(".parquet")}
    assert spark.table(t).count() == 90
    assert before_d2 == after_d2, "untouched partition must not be rewritten"


def test_delete_empties_whole_partition(spark, cat, bucket):
    """ADVICE r01 high #1: deleting every row in a scoped partition must
    actually remove the partition — dynamic overwrite alone never
    touches a partition absent from the staged output."""
    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.events_all_del"
    df = spark.createDataFrame(
        [(i, "d1" if i < 50 else "d2", float(i)) for i in range(100)],
        "id long, day string, v double",
    )
    cat.write_table(df, t, partition_by=["day"])

    cat.delete_where(t, F.col("day") == "d1", partition_pred=F.col("day") == "d1")
    assert spark.table(t).count() == 50
    assert spark.table(t).filter(F.col("day") == "d1").count() == 0
    # d2 untouched
    assert spark.table(t).filter(F.col("day") == "d2").count() == 50


def test_merge_rejects_source_outside_partition_scope(spark, cat, bucket):
    """ADVICE r01 high #2: a source row keyed into a partition outside
    partition_pred must raise — not wipe the untouched partition."""
    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.events_merge_scope"
    df = spark.createDataFrame(
        [(i, "d1" if i < 50 else "d2", float(i)) for i in range(100)],
        "id long, day string, v double",
    )
    cat.write_table(df, t, partition_by=["day"])

    src = spark.createDataFrame([(60, "d2", 999.0)], "id long, day string, v double")
    with pytest.raises(ValueError, match="outside partition_pred scope"):
        cat.merge_into(t, src, on=["id"], partition_pred=F.col("day") == "d1")
    # table untouched after the rejected merge
    assert spark.table(t).count() == 100
    assert spark.table(t).filter(F.col("day") == "d2").count() == 50

    # in-scope merge works and leaves d2 alone
    src_ok = spark.createDataFrame([(1, "d1", 999.0)], "id long, day string, v double")
    cat.merge_into(t, src_ok, on=["id"], partition_pred=F.col("day") == "d1")
    assert spark.table(t).count() == 100
    assert spark.table(t).filter(F.col("id") == 1).collect()[0].v == 999.0
    assert spark.table(t).filter(F.col("day") == "d2").count() == 50


def test_merge_updates_to_null(spark, cat, bucket):
    """ADVICE r01 low #4: MERGE UPDATE SET must be able to set a column
    to NULL from the source (coalesce semantics silently kept the old
    value)."""
    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.accounts_null"
    cat.create_table(t, "id BIGINT, bal DOUBLE, status STRING")
    cat.insert_values(t, "(1, 10.0, 'ok'), (2, 5.0, 'ok')")

    src = spark.createDataFrame([(1, None, "ok")], "id long, bal double, status string")
    cat.merge_into(t, src, on=["id"])
    got = {r.id: r.bal for r in spark.table(t).collect()}
    assert got[1] is None, "source NULL must overwrite the target value"
    assert got[2] == 5.0


def test_dml_staging_cleaned_up(spark, cat, bucket):
    """ADVICE r01 medium #3: staging lives under the warehouse (executor-
    reachable on a cluster) and is removed after the rewrite commits."""
    import os

    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.stage_check"
    cat.create_table(t, "id BIGINT, v DOUBLE")
    cat.insert_values(t, "(1, 1.0), (2, 2.0)")
    cat.delete_where(t, F.col("id") == 1)
    assert spark.table(t).count() == 1

    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    staging_root = os.path.join(wh, "_staging")
    leftovers = os.listdir(staging_root) if os.path.isdir(staging_root) else []
    assert not leftovers, f"staging dirs leaked: {leftovers}"


def test_quoted_location_ddl(spark, cat, tmp_path):
    """ADVICE r01 low #5: a location containing a single quote must not
    break the generated SQL."""
    loc = str(tmp_path / "odd'name")
    cat.create_schema(SCHEMA, location=loc)
    assert SCHEMA in [r[0] for r in cat.show_schemas().collect()]


def test_information_schema_columns(spark, cat, bucket):
    cat.create_schema(SCHEMA, location=bucket)
    cat.create_table(f"{SCHEMA}.info_t", "a INT, b STRING")
    cols = cat.information_schema_columns().filter(
        (F.col("table_schema") == SCHEMA) & (F.col("table_name") == "info_t")
    ).orderBy("ordinal_position").collect()
    assert [(c.column_name, c.data_type) for c in cols] == [("a", "int"), ("b", "string")]


def test_analyze_feeds_explain_cost(spark, cat, bucket, sf_dir):
    from walden_spark.catalog import analyze_table
    from walden_spark.plans.serving import explain_cost
    from walden_spark.tables import Tables

    cat.create_schema(SCHEMA, location=bucket)
    spark.conf.set("spark.sql.cbo.enabled", "true")  # session may predate the factory default
    t = Tables(spark, sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {SCHEMA}.stats_nation")
    t.nation.write.saveAsTable(f"{SCHEMA}.stats_nation")
    analyze_table(spark, f"{SCHEMA}.stats_nation", columns=["n_nationkey"])
    txt = explain_cost(spark, f"SELECT * FROM {SCHEMA}.stats_nation WHERE n_nationkey < 5")
    assert "rowCount=" in txt  # CBO stats present, not just sizeInBytes


def test_compact_table(spark, cat, bucket):
    import glob

    from walden_spark.catalog import compact_table

    cat.create_schema(SCHEMA, location=bucket)
    t = f"{SCHEMA}.fragmented"
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
    df.repartition(40).write.saveAsTable(t)  # simulate small-file ingest
    before = len(glob.glob(f"{bucket}/fragmented/*.parquet"))
    assert before >= 40
    compact_table(spark, t, target_file_bytes=128 * 1024 * 1024, sort_by=["id"])
    after = len(glob.glob(f"{bucket}/fragmented/*.parquet"))
    assert after < before and after <= 4
    assert spark.table(t).count() == 10_000
    # sorted layout: row-group min/max are usable for skipping
    import pyarrow.parquet as pq

    f = glob.glob(f"{bucket}/fragmented/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("id")
    rgs = [md.row_group(i).column(col_idx).statistics for i in range(md.num_row_groups)]
    assert all(s.min <= s.max for s in rgs)
    mins = [s.min for s in rgs]
    assert mins == sorted(mins), "sort_by layout should order row groups"


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering (OPTIMIZE ZORDER analog): after zorder_table
    on (x, y), row-group min/max stats must prune selective range
    predicates on EITHER column; a plain x-sort prunes only x. Measured
    directly from parquet footer statistics."""
    import glob

    import pyarrow.parquet as pq

    from walden_spark.catalog import Catalog, compact_table, zorder_table

    cat = Catalog(spark)
    cat.create_schema("zo", location=str(tmp_path / "zo"))
    # 2-D uniform grid: neither dim is correlated with the other, the
    # worst case for single-column sorting
    df = spark.range(200_000).selectExpr(
        "cast(id % 447 as bigint) as x", "cast(id % 631 as bigint) as y",
        "id as payload"
    )
    for t in ("zo.zsorted", "zo.xsorted"):
        df.write.mode("overwrite").option("path", str(tmp_path / t)).saveAsTable(t)
    # small row groups so there is something to skip (hadoop conf is
    # read per-write, so runtime mutation works; restored below)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(64 * 1024))
    try:
        zorder_table(spark, "zo.zsorted", ["x", "y"], target_file_bytes=1 << 40)
        compact_table(spark, "zo.xsorted", sort_by=["x"], target_file_bytes=1 << 40)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    def surviving(table_dir, col, lo, hi):
        tot = kept = 0
        for f in glob.glob(f"{table_dir}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col)
            for g in range(md.num_row_groups):
                s = md.row_group(g).column(ci).statistics
                tot += 1
                if not (s.max < lo or s.min > hi):
                    kept += 1
        return kept, tot

    zx, ztot = surviving(str(tmp_path / "zo.zsorted"), "x", 0, 44)
    zy, _ = surviving(str(tmp_path / "zo.zsorted"), "y", 0, 63)
    sx, stot = surviving(str(tmp_path / "zo.xsorted"), "x", 0, 44)
    sy, _ = surviving(str(tmp_path / "zo.xsorted"), "y", 0, 63)
    assert ztot >= 8 and stot >= 8, "need multiple row groups to measure"
    # x-sorted: prunes x but reads ~everything for y
    assert sx < stot * 0.5
    assert sy == stot
    # z-ordered: prunes BOTH dimensions
    assert zx < ztot * 0.6
    assert zy < ztot * 0.6
    # and the queries still return identical results
    a = spark.table("zo.zsorted").filter("x <= 44").count()
    b = spark.table("zo.xsorted").filter("x <= 44").count()
    assert a == b
    cat.drop_schema("zo", cascade=True)


def test_materialized_view_stale_until_refresh(spark, sf_dir):
    """MV semantics: reads serve the MATERIALIZED state (stale after
    source changes), REFRESH catches up; the definition survives in
    table properties."""
    from walden_spark.catalog import Catalog

    cat = Catalog(spark)
    spark.sql("DROP TABLE IF EXISTS mv_smoke_src")
    spark.sql("DROP TABLE IF EXISTS mv_smoke_tot")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.saveAsTable("mv_smoke_src")
    cat.create_materialized_view(
        "mv_smoke_tot", "SELECT CAST(SUM(v) AS BIGINT) AS total FROM mv_smoke_src"
    )
    assert spark.table("mv_smoke_tot").collect()[0].total == 90
    spark.sql("INSERT INTO mv_smoke_src VALUES (100, 1000)")
    # stale: the insert is NOT visible until refresh
    assert spark.table("mv_smoke_tot").collect()[0].total == 90
    assert "SUM(v)" in cat.materialized_view_query("mv_smoke_tot")
    cat.refresh_materialized_view("mv_smoke_tot")
    assert spark.table("mv_smoke_tot").collect()[0].total == 1090
    spark.sql("DROP TABLE mv_smoke_tot")
    spark.sql("DROP TABLE mv_smoke_src")


def test_catalog_dml_write_lock(spark, tmp_path):
    """Two clients racing copy-on-write DML on the same table: the
    second gets a clean ConcurrentWriteError while the first holds the
    lock; a stale (abandoned) lock is broken instead of deadlocking."""
    import pytest as _pytest

    from walden_spark.catalog import Catalog
    from walden_spark.timetravel import ConcurrentWriteError

    cat, cat2 = Catalog(spark), Catalog(spark)
    spark.sql("DROP TABLE IF EXISTS walden_lock_t")
    spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    ).write.saveAsTable("walden_lock_t")
    try:
        with cat._write_lock("walden_lock_t", "client_a"):
            with _pytest.raises(ConcurrentWriteError):
                cat2.delete_where("walden_lock_t", F.col("id") >= 5)
        # lock released → the same DML now succeeds
        cat2.delete_where("walden_lock_t", F.col("id") >= 5)
        assert spark.table("walden_lock_t").count() == 5

        # stale-lock recovery: fake an abandoned claim, then age it out
        old_ttl = Catalog.LOCK_TTL_S
        Catalog.LOCK_TTL_S = 0.0  # everything is instantly stale
        try:
            with cat._write_lock("walden_lock_t", "crashed_client"):
                # a new writer may break the stale lock and proceed
                cat2.update_where("walden_lock_t", {"v": F.lit(0.0)}, F.col("id") == 0)
        finally:
            Catalog.LOCK_TTL_S = old_ttl
        assert spark.table("walden_lock_t").filter("id = 0").collect()[0].v == 0.0
    finally:
        spark.sql("DROP TABLE IF EXISTS walden_lock_t")


def test_second_builder_call_runs_no_spark_job(spark, sf_dir, jobs_launched):
    """Fixture schemas are remembered per session: a second build of
    tpch_q8 (seven fixture tables, nation scanned twice) launches no job before
    its action, and its result is unchanged."""
    from walden_spark.registry import load_all

    q8 = load_all()["tpch_q8"].fn
    first = q8(spark, sf_dir).collect()
    df, jobs = jobs_launched(lambda: q8(spark, sf_dir))
    assert jobs == 0
    assert df.collect() == first


def test_fixture_rewritten_in_place_yields_new_schema(spark, tmp_path):
    """The memo key holds the file's (size, mtime_ns): a fixture file
    rewritten at the same path with another schema is read with it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walden_spark.tables import load_table

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_regionkey": [7], "r_comment": ["c"], "w": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "bigint"), ("r_comment", "string"), ("w", "double")]
    assert [tuple(r) for r in df.collect()] == [(7, "c", 1.5)]


def test_reader_conf_flip_reinfers_like_a_fresh_read(spark, tmp_path):
    """Reader confs that change inferred types are part of the memo
    key: after flipping nanosAsLong (or binaryAsString) a read gives
    exactly what fresh inference gives — a bigint, or the same error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walden_spark.tables import read_parquet

    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1_000_000_123], pa.timestamp("ns")),
                "raw": pa.array([b"x"], pa.binary()),
            }
        ),
        path,
    )

    def schema_or_error(read):
        try:
            return read().schema
        except Exception as e:  # noqa: BLE001 - compared, not swallowed
            return type(e).__name__

    confs = {
        "spark.sql.legacy.parquet.nanosAsLong": ("true", "false", "true"),
        "spark.sql.parquet.binaryAsString": ("false", "true", "false"),
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for key, flags in confs.items():
            for flag in flags:
                spark.conf.set(key, flag)
                want = schema_or_error(lambda: spark.read.parquet(path))
                assert schema_or_error(lambda: read_parquet(spark, path)) == want
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        assert read_parquet(spark, path).dtypes == [("ts", "bigint"), ("raw", "string")]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
