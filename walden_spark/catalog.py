"""Catalog & DDL layer (SURVEY.md §7.1 M1) — schemas-on-buckets,
columnar tables, and row-level DML emulation on plain Parquet.

Reference surface being reproduced (SURVEY.md §2.1):
* CREATE/DROP SCHEMA with an object-store location
  (reference: tf/test-hive.sh:19-21, README.md:104)
* CREATE/DROP TABLE, CTAS, views (tf/test-hive.sh:22,
  tf/superset/superset.tf:55-56 allow_ctas/allow_cvas)
* INSERT VALUES / INSERT SELECT (tf/test-hive.sh:23,
  tf/superset/superset.tf:57 allow_dml)
* UPDATE / DELETE / MERGE — the reference gets these from
  Trino-on-Iceberg (tf/main.tf:93-98); on plain Parquet we emulate with
  copy-on-write partition rewrite (documented deviation, SURVEY §7.4).

Scale posture:
* ``write_table`` targets ~128MB files (repartition by max-file count)
  and supports Hive-style partitioning so partition pruning works.
* DML rewrites are *partition-scoped* when the table is partitioned and
  a partition predicate is supplied: with
  ``spark.sql.sources.partitionOverwriteMode=dynamic`` only the touched
  partitions are rewritten — at 100TB you rewrite one day's partition,
  never the table.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from walden_spark.timetravel import ConcurrentWriteError

TARGET_FILE_BYTES = 128 * 1024 * 1024


def _q(ident: str) -> str:
    """Quote a (possibly dotted) identifier."""
    return ".".join(f"`{p}`" for p in ident.split("."))


def _qs(s: str) -> str:
    """Quote a string literal for embedding in SQL text (escape ')."""
    return "'" + s.replace("'", "''") + "'"


def _partition_literal(v) -> str:
    """Format one partition value for an ALTER TABLE .. PARTITION spec.

    NULL partition values live in the hive default-partition directory,
    addressed in specs by its sentinel token — naive ``str(v)`` would
    emit ``'None'`` and silently match nothing (ADVICE r02 low #3).
    Numeric/boolean literals go unquoted; everything else (strings,
    dates, timestamps, decimals) is quoted text that Spark coerces to
    the partition column's type when parsing the spec.
    """
    if v is None:
        return _qs("__HIVE_DEFAULT_PARTITION__")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    return _qs(str(v))


def _staging_dir(spark: SparkSession) -> str:
    """A staging path under the warehouse so it is reachable by every
    executor on a real cluster (driver-local /tmp is not — ADVICE r01).
    Caller must clean it up via :func:`_rm_path`."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return f"{wh.rstrip('/')}/_staging/{uuid.uuid4().hex}"


def _rm_path(spark: SparkSession, path: str) -> None:
    """Recursively delete a path through the Hadoop FS API — works for
    file://, s3a://, hdfs:// alike (object-store safe, unlike shutil)."""
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    fs.delete(hpath, True)


class Catalog:
    """DDL/DML helpers over the Spark session catalog.

    Thin by design — Spark SQL already implements the semantics; this
    class only adds the location-bound-schema convention and the
    Parquet copy-on-write DML the reference gets from Iceberg.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ---- schemas (namespaces bound to storage locations) ----

    def create_schema(self, name: str, location: str | None = None, if_not_exists: bool = True) -> None:
        ine = "IF NOT EXISTS " if if_not_exists else ""
        loc = f" LOCATION {_qs(location)}" if location else ""
        self.spark.sql(f"CREATE DATABASE {ine}{_q(name)}{loc}")

    def drop_schema(self, name: str, cascade: bool = True, if_exists: bool = True) -> None:
        ie = "IF EXISTS " if if_exists else ""
        c = " CASCADE" if cascade else ""
        self.spark.sql(f"DROP DATABASE {ie}{_q(name)}{c}")

    def schema_location(self, name: str) -> str:
        row = self.spark.sql(f"DESCRIBE DATABASE {_q(name)}").where(
            F.col("info_name") == "Location"
        ).collect()
        return row[0]["info_value"] if row else ""

    # ---- tables ----

    def create_table(
        self,
        name: str,
        columns: str,
        partition_by: Sequence[str] | None = None,
        location: str | None = None,
        if_not_exists: bool = True,
    ) -> None:
        """``columns`` is DDL text, e.g. ``"key STRING, val BIGINT"``."""
        ine = "IF NOT EXISTS " if if_not_exists else ""
        part = f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
        loc = f" LOCATION {_qs(location)}" if location else ""
        self.spark.sql(f"CREATE TABLE {ine}{_q(name)} ({columns}) USING parquet{part}{loc}")

    def drop_table(self, name: str, if_exists: bool = True) -> None:
        ie = "IF EXISTS " if if_exists else ""
        self.spark.sql(f"DROP TABLE {ie}{_q(name)}")

    def ctas(self, name: str, select_sql: str) -> None:
        """``select_sql`` is a trusted-SQL passthrough — not escaped."""
        self.spark.sql(f"CREATE TABLE {_q(name)} USING parquet AS {select_sql}")

    def create_view(self, name: str, select_sql: str, temp: bool = True) -> None:
        """``select_sql`` is a trusted-SQL passthrough — not escaped."""
        kind = "TEMP VIEW" if temp else "VIEW"
        self.spark.sql(f"CREATE OR REPLACE {kind} {_q(name)} AS {select_sql}")

    # ---- materialized views ----
    # The reference gets MVs from Trino-on-Iceberg (CREATE MATERIALIZED
    # VIEW + REFRESH); Spark has no native MV, so this is the CTAS-swap
    # formulation: the definition is stored in TBLPROPERTIES (survives
    # restarts under the persistent catalog) and REFRESH re-runs it
    # through the same staging/commit path as DML, so readers never see
    # a partial refresh.

    def create_materialized_view(self, name: str, select_sql: str) -> None:
        """``select_sql`` is a trusted-SQL passthrough — not escaped
        beyond the single quotes needed to store it as a property."""
        self.spark.sql(f"CREATE TABLE {_q(name)} USING parquet AS {select_sql}")
        stored = select_sql.replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {_q(name)} SET TBLPROPERTIES ('walden.mv.query' = '{stored}')"
        )

    def materialized_view_query(self, name: str) -> str:
        row = self.spark.sql(
            f"SHOW TBLPROPERTIES {_q(name)} ('walden.mv.query')"
        ).collect()[0]
        if row.value.startswith("Table") and "does not have property" in row.value:
            raise ValueError(f"{name} is not a materialized view")
        return row.value

    # ---- aggregate MVs with automatic rollup serving (r08) ----
    # The Trino/Calcite materialized-view-rewrite idea in its robust,
    # declarative form: an agg MV registers (base, group keys, agg
    # specs) as structured metadata, and serve_agg() answers any
    # aggregate whose keys are a SUBSET of the MV's keys and whose
    # aggregates are derivable (SUM/COUNT re-sum, MIN/MAX re-min/max,
    # AVG = derived SUM/COUNT) by RE-AGGREGATING THE MV instead of
    # scanning the base — the Druid/Pinot rollup-serving model. At
    # 100 TB the MV is |distinct key combos| rows vs |base| rows; a
    # dashboard family over one fact shares one rollup. Metadata lives
    # in TBLPROPERTIES, so a fresh session re-attaches from the
    # catalog, not process memory. SUM columns should be exact types
    # (decimal/integer): two-level decimal sums equal one-level sums
    # exactly, which is what keeps rollup serving oracle-identical.

    def create_agg_mv(
        self,
        name: str,
        base: str,
        keys: Sequence[str],
        aggs: Mapping[str, tuple],
    ) -> None:
        """``aggs``: out_col -> (fn, src_col) with fn in
        sum|count|min|max; count's src is ignored ('*')."""
        import json as _json

        exprs = []
        for out, (fn, src) in aggs.items():
            if fn == "count":
                exprs.append(f"CAST(COUNT(*) AS BIGINT) AS {out}")
            elif fn == "sum":
                exprs.append(f"SUM({src}) AS {out}")
            elif fn in ("min", "max"):
                exprs.append(f"{fn.upper()}({src}) AS {out}")
            else:
                raise ValueError(f"underivable agg fn {fn!r}")
        self.spark.sql(
            f"CREATE TABLE {_q(name)} USING parquet AS "
            f"SELECT {', '.join(keys)}, {', '.join(exprs)} "
            f"FROM {_q(base)} GROUP BY {', '.join(keys)}"
        )
        meta = _json.dumps(
            {"base": base, "keys": list(keys), "aggs": {k: list(v) for k, v in aggs.items()}}
        )
        # Row count cached in TBLPROPERTIES (VERDICT r08 #3): serve_agg
        # picks the cheapest matching MV by comparing these cached
        # counts — one metadata lookup per candidate instead of a full
        # scan per candidate per serve call.
        nrows = self.spark.table(name).count()
        self.spark.sql(
            f"ALTER TABLE {_q(name)} SET TBLPROPERTIES "
            f"('walden.mv.agg' = {_qs(meta)}, 'walden.mv.rows' = '{nrows}')"
        )
        self._agg_mvs = getattr(self, "_agg_mvs", set()) | {name}

    def _agg_mv_meta(self, name: str) -> dict | None:
        meta, _rows = self._agg_mv_props(name)
        return meta

    def _agg_mv_props(self, name: str) -> tuple[dict | None, int | None]:
        """(definition, cached row count) from TBLPROPERTIES — one
        metadata call, no data scan. Row count is None for MVs created
        before the cache existed (serve_agg falls back to count())."""
        import json as _json

        props = {
            r.key: r.value
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {_q(name)}").collect()
        }
        meta = _json.loads(props["walden.mv.agg"]) if "walden.mv.agg" in props else None
        nrows = int(props["walden.mv.rows"]) if "walden.mv.rows" in props else None
        return meta, nrows

    def refresh_agg_mv(self, name: str) -> None:
        """Full refresh from the stored definition. Freshness is
        EXPLICIT, as with ``refresh_materialized_view``: serve_agg
        answers from the MV as-at its last refresh (the Trino
        MV contract — a grace-period-stale read); pair the base with a
        versioned table + incremental MV when continuous freshness is
        needed (timetravel.py)."""
        meta = self._agg_mv_meta(name)
        if meta is None:
            raise ValueError(f"{name} is not an agg MV")
        exprs = []
        for out, (fn, src) in meta["aggs"].items():
            if fn == "count":
                exprs.append(f"CAST(COUNT(*) AS BIGINT) AS {out}")
            else:
                exprs.append(f"{fn.upper()}({src}) AS {out}")
        keys = meta["keys"]
        staging = _staging_dir(self.spark)
        agg = self.spark.sql(
            f"SELECT {', '.join(keys)}, {', '.join(exprs)} "
            f"FROM {_q(meta['base'])} GROUP BY {', '.join(keys)}"
        )
        agg.write.mode("overwrite").parquet(staging)
        try:
            self.spark.read.schema(agg.schema).parquet(staging).write.mode(
                "overwrite"
            ).insertInto(name, overwrite=True)
        finally:
            _rm_path(self.spark, staging)
        nrows = self.spark.table(name).count()
        self.spark.sql(
            f"ALTER TABLE {_q(name)} SET TBLPROPERTIES ('walden.mv.rows' = '{nrows}')"
        )

    def serve_agg(
        self,
        base: str,
        keys: Sequence[str],
        aggs: Mapping[str, tuple],
    ) -> DataFrame:
        """Answer ``SELECT keys, aggs FROM base GROUP BY keys`` from the
        cheapest registered agg MV that can derive it; falls back to
        the base table when none matches. ``aggs`` adds fn 'avg'
        (derived as SUM/COUNT — requires the MV to carry both)."""
        best = None
        for name in sorted(getattr(self, "_agg_mvs", set())):
            meta, nrows = self._agg_mv_props(name)
            if meta is None or meta["base"] != base:
                continue
            if not set(keys) <= set(meta["keys"]):
                continue
            if self._derive_exprs(meta, aggs) is None:
                continue
            if nrows is None:  # pre-cache MV: one-time scan fallback
                nrows = self.spark.table(name).count()
            if best is None or nrows < best[1]:
                best = (name, nrows, meta)
        if best is None:
            return self._agg_direct(self.spark.table(base), keys, aggs)
        name, _, meta = best
        exprs = self._derive_exprs(meta, aggs)
        return (
            self.spark.table(name)
            .groupBy(*keys)
            .agg(*[e.alias(out) for out, e in exprs])
        )

    @staticmethod
    def _derive_exprs(meta: dict, aggs: Mapping[str, tuple]):
        """Map each requested agg onto the MV's pre-aggregates; None if
        any is underivable."""
        by_spec = {}  # (fn, src) -> mv col
        count_col = None
        for out, (fn, src) in meta["aggs"].items():
            by_spec[(fn, src)] = out
            if fn == "count":
                count_col = out
        exprs = []
        for out, (fn, src) in aggs.items():
            if fn in ("sum", "min", "max") and (fn, src) in by_spec:
                mv_col = by_spec[(fn, src)]
                agg_fn = {"sum": F.sum, "min": F.min, "max": F.max}[fn]
                exprs.append((out, agg_fn(mv_col)))
            elif fn == "count" and count_col is not None:
                exprs.append((out, F.sum(count_col).cast("bigint")))
            elif fn == "avg" and ("sum", src) in by_spec and count_col is not None:
                exprs.append(
                    (
                        out,
                        F.sum(by_spec[("sum", src)]).cast("double")
                        / F.sum(count_col).cast("double"),
                    )
                )
            else:
                return None
        return exprs

    @staticmethod
    def _agg_direct(df: DataFrame, keys: Sequence[str], aggs: Mapping[str, tuple]):
        exprs = []
        for out, (fn, src) in aggs.items():
            if fn == "count":
                exprs.append(F.count(F.lit(1)).cast("bigint").alias(out))
            elif fn == "avg":
                exprs.append(
                    (F.sum(src).cast("double") / F.count(F.lit(1)).cast("double")).alias(out)
                )
            else:
                exprs.append({"sum": F.sum, "min": F.min, "max": F.max}[fn](src).alias(out))
        return df.groupBy(*keys).agg(*exprs)

    def refresh_materialized_view(self, name: str) -> None:
        select_sql = self.materialized_view_query(name)
        staging = _staging_dir(self.spark)
        view = self.spark.sql(select_sql)
        view.write.mode("overwrite").parquet(staging)
        try:
            self.spark.read.schema(view.schema).parquet(staging).write.mode(
                "overwrite"
            ).insertInto(name, overwrite=True)
        finally:
            _rm_path(self.spark, staging)

    # ---- writes ----

    def write_table(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: Sequence[str] | None = None,
        target_file_bytes: int = TARGET_FILE_BYTES,
        approx_row_bytes: int | None = None,
    ) -> None:
        """Save a DataFrame as a managed Parquet table, sized for scans.

        If ``approx_row_bytes`` is given, repartition so output files
        land near ``target_file_bytes`` (the reference's ORC files play
        the same role; 128MB aligns with
        ``spark.sql.files.maxPartitionBytes`` so one scan task reads one
        file run).
        """
        w = df.write
        if approx_row_bytes:
            n = max(1, int(df.count() * approx_row_bytes / target_file_bytes))
            src = df.repartition(n, *partition_by) if partition_by else df.repartition(n)
            w = src.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.mode(mode).format("parquet").saveAsTable(name)

    def insert_values(self, table: str, rows_sql: str) -> None:
        """``rows_sql`` is a trusted-SQL passthrough (VALUES tuple list,
        composed by the caller) — not escaped here."""
        self.spark.sql(f"INSERT INTO {_q(table)} VALUES {rows_sql}")

    def insert_select(self, table: str, select_sql: str, overwrite: bool = False) -> None:
        """``select_sql`` is a trusted-SQL passthrough — not escaped."""
        verb = "INSERT OVERWRITE TABLE" if overwrite else "INSERT INTO"
        self.spark.sql(f"{verb} {_q(table)} {select_sql}")

    # ---- row-level DML emulation (copy-on-write) ----

    def _partition_columns(self, table: str) -> list[str]:
        db_tbl = table if "." in table else table
        return [c.name for c in self.spark.catalog.listColumns(db_tbl) if c.isPartition]

    # Stale-lock horizon: a crashed writer's lock is breakable after
    # this many seconds (advisory locking; a real multi-writer catalog
    # service — Nessie/metastore — owns this in production).
    LOCK_TTL_S = 3600.0

    @contextmanager
    def _write_lock(self, table: str, op: str):
        """Advisory per-table writer lock (VERDICT r03 next-round #6,
        catalog side): the read-modify-write window in copy-on-write
        DML loses updates if two clients interleave, so the second
        writer must FAIL, not silently clobber. Claim = create-if-
        absent of a lock file under the warehouse (atomic on HDFS/
        local; conditional PUT on S3); a lock older than LOCK_TTL_S is
        considered abandoned and broken once."""
        import json as _json
        import time as _time

        spark = self.spark
        wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        safe = table.replace(".", "__")
        lock = f"{wh}/_locks/{safe}.lock"
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(lock)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        payload = bytearray(
            _json.dumps({"claimed_at": _time.time(), "op": op}).encode()
        )
        for attempt in (0, 1):
            try:
                out = fs.create(hpath, False)
                try:
                    out.write(payload)
                finally:
                    out.close()
                break
            except Exception as exc:
                stale = False
                try:
                    st = fs.getFileStatus(hpath)
                    stale = (
                        _time.time() - st.getModificationTime() / 1000.0
                        > self.LOCK_TTL_S
                    )
                except Exception:
                    stale = True  # raced a release — retry the claim
                if stale and attempt == 0:
                    fs.delete(hpath, False)
                    continue
                raise ConcurrentWriteError(
                    f"table {table!r} is locked by another writer ({lock}); "
                    "retry after it commits"
                ) from exc
        try:
            yield
        finally:
            fs.delete(hpath, False)

    def _rewrite(self, table: str, transform, partition_pred: Column | None) -> None:
        """Single-writer-enforced copy-on-write DML: the whole
        read-stage-overwrite cycle runs under the per-table advisory
        lock, so a second concurrent writer errors instead of silently
        losing the first one's update."""
        with self._write_lock(table, "rewrite"):
            self._rewrite_locked(table, transform, partition_pred)

    def _rewrite_locked(self, table: str, transform, partition_pred: Column | None) -> None:
        """Copy-on-write core: materialize transformed rows, then
        overwrite. With a partition predicate + dynamic overwrite mode,
        only touched partitions are replaced (partition-scoped rewrite —
        the 100TB path); otherwise the whole table is rewritten (the
        reference's Iceberg copy-on-write does the same per-file).

        Emptied-partition handling (ADVICE r01 high #1): dynamic
        overwrite only replaces partitions PRESENT in the staged output,
        so a scoped partition whose rows were all deleted would silently
        survive. We snapshot the scoped partition tuples BEFORE the
        transform and explicitly ALTER TABLE .. DROP PARTITION any that
        produced no output rows. The snapshot reads partition values
        only — a metadata-priced scan, not a data scan.
        """
        spark = self.spark
        src = spark.table(table)
        scope = src.filter(partition_pred) if partition_pred is not None else src
        part_cols = self._partition_columns(table) if partition_pred is not None else []
        before_parts: list[dict] = []
        if part_cols:
            before_parts = [r.asDict() for r in scope.select(*part_cols).distinct().collect()]
        rewritten = transform(scope)
        # Stage under the warehouse (executor-reachable on a cluster;
        # driver-local /tmp is not), then break the self-overwrite
        # lineage by reading the staged copy back — with the schema just
        # written, so no inference job. Cleaned up in finally.
        staging = _staging_dir(spark)
        rewritten.write.mode("overwrite").parquet(staging)
        try:
            staged = spark.read.schema(rewritten.schema).parquet(staging)
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            try:
                if partition_pred is not None:
                    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
                staged.write.mode("overwrite").insertInto(table, overwrite=True)
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            if before_parts:
                after = {
                    tuple(r.asDict()[c] for c in part_cols)
                    for r in staged.select(*part_cols).distinct().collect()
                }
                for p in before_parts:
                    if tuple(p[c] for c in part_cols) not in after:
                        spec = ", ".join(f"{_q(c)} = {_partition_literal(p[c])}" for c in part_cols)
                        spark.sql(f"ALTER TABLE {_q(table)} DROP IF EXISTS PARTITION ({spec})")
        finally:
            _rm_path(spark, staging)

    def delete_where(self, table: str, condition: Column | str, partition_pred: Column | None = None) -> None:
        cond = F.expr(condition) if isinstance(condition, str) else condition
        self._rewrite(table, lambda df: df.filter(~cond | cond.isNull()), partition_pred)

    def update_where(
        self,
        table: str,
        assignments: Mapping[str, Column | str],
        condition: Column | str,
        partition_pred: Column | None = None,
    ) -> None:
        cond = F.expr(condition) if isinstance(condition, str) else condition

        def transform(df: DataFrame) -> DataFrame:
            out = df
            for col, val in assignments.items():
                v = F.expr(val) if isinstance(val, str) else val
                out = out.withColumn(col, F.when(cond, v).otherwise(F.col(col)))
            return out

        self._rewrite(table, transform, partition_pred)

    def merge_into(
        self,
        target: str,
        source: DataFrame,
        on: Sequence[str],
        update_cols: Sequence[str] | None = None,
        insert_when_not_matched: bool = True,
        partition_pred: Column | None = None,
    ) -> None:
        """MERGE emulation: upsert ``source`` into ``target`` on key
        columns. Matched rows take source values for ``update_cols``
        (default: all non-key columns) — including NULLs, per SQL
        MERGE ... UPDATE SET semantics (match indicators, not coalesce:
        ADVICE r01 low #4); unmatched source rows are appended. One
        shuffle on the key (full outer join).

        When ``partition_pred`` scopes the rewrite, the SOURCE is
        filtered by the same predicate and the call raises if any source
        row falls outside the scoped partitions — otherwise those rows
        would be misclassified as inserts and dynamic overwrite would
        replace their whole (untouched) partition with just them
        (ADVICE r01 high #2).
        """
        tgt_cols = self.spark.table(target).columns
        update_cols = list(update_cols or [c for c in tgt_cols if c not in on])

        persisted = None
        if partition_pred is not None:
            # Persist the source before any action: the guard verdict
            # and the merged data must see the SAME rows (a
            # non-deterministic source evaluated twice could pass the
            # guard yet merge out-of-scope rows), and an expensive
            # source shouldn't be recomputed for the guard. One
            # aggregate counts the out-of-scope rows directly instead
            # of two full counts (ADVICE r02 low #4).
            persisted = source = source.persist()
            n_out = source.filter(~partition_pred | partition_pred.isNull()).count()
            if n_out:
                persisted.unpersist()
                raise ValueError(
                    f"merge_into: {n_out} source row(s) fall outside "
                    "partition_pred scope; merging them would rewrite partitions "
                    "outside the scope. Widen partition_pred or pre-filter the source."
                )

        def transform(df: DataFrame) -> DataFrame:
            src = source.select(*tgt_cols).withColumn("_s_matched", F.lit(True))
            tgt = df.withColumn("_t_matched", F.lit(True))
            joined = tgt.alias("t").join(src.alias("s"), on=list(on), how="full_outer")
            s_hit = F.col("s._s_matched").isNotNull()
            t_hit = F.col("t._t_matched").isNotNull()
            out_cols = []
            for c in tgt_cols:
                if c in on:
                    out_cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
                elif c in update_cols:
                    # source value wins whenever the source row exists —
                    # even when that value is NULL (true UPDATE SET)
                    out_cols.append(F.when(s_hit, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c))
                else:
                    # columns outside update_cols: keep target on match,
                    # take source on pure insert
                    out_cols.append(F.when(t_hit, F.col(f"t.{c}")).otherwise(F.col(f"s.{c}")).alias(c))
            if not insert_when_not_matched:
                joined = joined.filter(t_hit)
            return joined.select(*out_cols)

        try:
            self._rewrite(target, transform, partition_pred)
        finally:
            if persisted is not None:
                persisted.unpersist()

    # ---- introspection (information_schema-style) ----

    def show_schemas(self) -> DataFrame:
        return self.spark.sql("SHOW DATABASES")

    def show_tables(self, schema: str | None = None) -> DataFrame:
        return self.spark.sql(f"SHOW TABLES IN {_q(schema)}" if schema else "SHOW TABLES")

    def describe(self, table: str) -> DataFrame:
        return self.spark.sql(f"DESCRIBE TABLE {_q(table)}")

    def information_schema_columns(self) -> DataFrame:
        """information_schema.columns-compatible view across the session
        catalog (reference: README.md:112-116) — for BI clients."""
        spark = self.spark
        rows = []
        for db in [d.name for d in spark.catalog.listDatabases()]:
            for t in spark.catalog.listTables(db):
                if t.database is None:  # temp views surface in every db listing
                    continue
                for i, c in enumerate(spark.catalog.listColumns(f"{db}.{t.name}")):
                    rows.append((db, t.name, c.name, i + 1, c.dataType, c.nullable))
        return spark.createDataFrame(
            rows,
            "table_schema string, table_name string, column_name string, "
            "ordinal_position int, data_type string, is_nullable boolean",
        )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (+optionally sorted) managed table.

    Bucketing is the lakehouse co-location primitive: two tables
    bucketed by the same key into the same bucket count join WITHOUT a
    shuffle exchange on either side (asserted in
    tests/test_plans.py::test_bucketed_join_no_exchange) — at 100TB the
    fact-to-fact join this enables is the difference between a full
    re-shuffle of both tables and a local zip of bucket files. The
    reference's Iceberg layer exposes the same capability via bucket
    partition transforms (tf/main.tf:93-98).
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def table_properties(spark: SparkSession, name: str) -> dict[str, str]:
    """SHOW TBLPROPERTIES as a plain dict."""
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {_q(name)}").collect()
    }


def ensure_bucketed_table(
    spark: SparkSession,
    name: str,
    builder,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    source: str = "",
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Maintained bucketed-layout ingest (VERDICT r09 #6): make the
    "pay the shuffle once at write time" story real in the engine, not
    just in a per-query CTAS probe.

    If ``name`` already exists with the SAME layout contract — bucket
    columns, bucket count, sort columns, and ``source`` (the dataset
    identity, e.g. the sf dir; two scale factors must never reuse each
    other's layout), all recorded as ``walden.bucket.*`` /
    ``walden.ingest.source`` TBLPROPERTIES at ingest — it is reused
    as-is and ``builder`` is never invoked. Otherwise the table is
    (re)built: a mismatched table is dropped, and a stale managed dir
    left behind by a PREVIOUS session whose in-memory catalog forgot
    the table is cleared first (LOCATION_ALREADY_EXISTS otherwise —
    the r09 footgun). Under the persistent Derby metastore
    (session.py) the layout survives across sessions, so repeat
    sessions pay nothing; under the default in-memory catalog it is
    paid once per session instead of once per query.

    ``builder`` is a zero-arg callable returning the DataFrame to
    ingest — lazy, so the reuse path never touches the source data.

    ``columns`` (r11 session 3) folds the PROJECTED column list into
    the layout contract (``walden.ingest.cols``): without it, widening
    a shared layout's projection in code would silently REUSE the
    narrower table left by an earlier session and fail downstream on
    missing columns. Callers sharing a layout across queries should
    always pass it; the ingest columns are part of the layout's
    identity exactly like the bucket spec."""
    want = {
        "walden.bucket.cols": ",".join(bucket_cols),
        "walden.bucket.n": str(n_buckets),
        "walden.bucket.sort": ",".join(sort_cols or ()),
        "walden.ingest.source": source,
    }
    if columns is not None:
        want["walden.ingest.cols"] = ",".join(columns)
    if spark.catalog.tableExists(name):
        have = table_properties(spark, name)
        if all(have.get(k) == v for k, v in want.items()):
            return spark.table(name)
        spark.sql(f"DROP TABLE IF EXISTS {_q(name)}")
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    _rm_path(spark, f"{wh}/{name}")
    write_bucketed_table(builder(), name, bucket_cols, n_buckets, sort_cols)
    # SQL-escape the property values: `source` is a caller path and may
    # carry single quotes — unescaped they break the statement after
    # the rebuild already ran, or smuggle extra properties (ADVICE r10
    # #5). Keys are our own literals but get the same treatment.
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    props_sql = ", ".join(f"'{esc(k)}'='{esc(v)}'" for k, v in want.items())
    spark.sql(f"ALTER TABLE {_q(name)} SET TBLPROPERTIES ({props_sql})")
    return spark.table(name)


def analyze_table(spark: SparkSession, name: str, columns: Sequence[str] | None = None) -> None:
    """ANALYZE TABLE — populate CBO statistics (row counts, sizes, and
    per-column NDV/min/max) so EXPLAIN COST and join reordering have
    real numbers (SURVEY §4: the reference's Trino CBO equivalent).
    """
    spark.sql(f"ANALYZE TABLE {_q(name)} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {_q(name)} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )


def compact_table(
    spark: SparkSession,
    name: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_by: Sequence[str] | None = None,
) -> int:
    """Compact a managed Parquet table's small files (the Iceberg
    `rewrite_data_files` maintenance analog — streaming ingest and
    per-partition DML both fragment tables over time).

    Rewrites to ceil(bytes/target) files via the same staging path the
    DML layer uses; optional ``sort_by`` lays rows out for row-group
    min/max skipping on those columns (Z-order-lite: effective for one
    leading dimension, which is the common time-series case).
    Returns the new file count.
    """
    import math

    df = spark.table(name)
    total_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    compacted = df.repartition(n_files)
    if sort_by:
        compacted = compacted.sortWithinPartitions(*sort_by)
    staging = _staging_dir(spark)
    compacted.write.mode("overwrite").parquet(staging)
    try:
        spark.read.schema(compacted.schema).parquet(staging).write.mode(
            "overwrite"
        ).insertInto(name, overwrite=True)
    finally:
        _rm_path(spark, staging)
    return n_files


def zorder_expr(
    df_or_stats,
    cols: Sequence[str],
    bits: int = 16,
):
    """Build the Z-order (Morton) interleaved-bits column for 2-3
    numeric columns — the multi-dimensional clustering key behind
    Delta/Iceberg OPTIMIZE ZORDER. Each column min-max normalizes to a
    ``bits``-bit integer, then bit i of column c lands at position
    i * n_cols + c, so a sort on the result clusters ALL dimensions at
    once and row-group min/max stats prune on any of them.

    ``df_or_stats`` is either a DataFrame (ranges computed with one
    tiny agg) or a precomputed {col: (min, max)} mapping — at 100TB
    pass table-statistics ranges instead of rescanning. The expression
    itself is pure JVM bit arithmetic (codegen, zero Python).
    """
    from pyspark.sql import DataFrame as _DF

    if isinstance(df_or_stats, _DF):
        row = df_or_stats.agg(
            *[f(c).alias(f"{f.__name__}_{c}") for c in cols for f in (F.min, F.max)]
        ).collect()[0]
        stats = {c: (row[f"min_{c}"], row[f"max_{c}"]) for c in cols}
    else:
        stats = dict(df_or_stats)
    n = len(cols)
    scaled = []
    for c in cols:
        lo, hi = stats[c]
        lo_f, hi_f = float(lo), float(hi)
        span = (hi_f - lo_f) or 1.0
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo_f)) / F.lit(span) * ((1 << bits) - 1)
                ).cast("bigint"),
            )
        )
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for ci, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, i).bitwiseAND(F.lit(1)), i * n + ci
            ).cast("bigint")
    return z


def zorder_table(
    spark: SparkSession,
    name: str,
    cols: Sequence[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    bits: int = 16,
) -> int:
    """OPTIMIZE ZORDER analog: rewrite a managed table clustered by the
    Morton key of ``cols`` (range-partitioned AND sorted within files,
    so both file-level and row-group-level min/max prune on every
    z-dimension). Same staging/commit path as compact_table."""
    import math

    df = spark.table(name)
    total_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    z = zorder_expr(df, cols, bits=bits)
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    staging = _staging_dir(spark)
    clustered.write.mode("overwrite").parquet(staging)
    try:
        spark.read.schema(clustered.schema).parquet(staging).write.mode(
            "overwrite"
        ).insertInto(name, overwrite=True)
    finally:
        _rm_path(spark, staging)
    return n_files
