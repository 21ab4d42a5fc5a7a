"""Session entry point.

Reference: the ``RasgoQL`` entry class — ``connect(creds) -> rql`` with
factories ``dataset()``, ``sqlchain()``, ``dataset_from_df()``, raw
``query()`` (rasgoql/rasgoql/main.py:15-144). Here Spark plays both the
client and the warehouse: ``connect()`` wraps a SparkSession; the catalog is
Spark's catalog; paths to parquet/csv/json files are first-class "tables".
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import registry
from .dataset import Dataset, SQLChain
from .errors import ParameterException, TableAccessError
from .guard import check_sql
from .naming import cleanse_name

_FILE_EXTS = {".parquet": "parquet", ".csv": "csv", ".json": "json", ".orc": "orc"}


def default_spark(
    app_name: str = "rasgoql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-sane defaults.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    Arrow on (fast pandas interchange), UTC session timezone (deterministic
    date semantics against external oracles).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE (incl. partition coalescing) run INSIDE cached plans
        # (default false): the engine persists bounded intermediates
        # (signature tables, ranks, indexes) whose materialized partition
        # count otherwise stays at spark.sql.shuffle.partitions no matter
        # how small the data — every downstream consumer stage then pays
        # one task per empty-ish partition. Size-adaptive, not a local-
        # mode tune: big caches keep big partition counts (round 13)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # prefer shuffled-hash join where the planner's size conditions
        # hold (build side must fit a per-partition hash map — the
        # planner/AQE still fall back to sort-merge otherwise): skips the
        # sort on both join sides. The AQE threshold bounds the local map
        # a sort-merge join may be rewritten to at runtime (guide §3.1)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64MB")
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND
        # isnotnull(arr)` under every explode and pushes it through the
        # projection that computes the array — re-evaluating the full
        # tokens/ngram/shingle expression (regex + array build) 3-5x per
        # row in the filter (measured: the single-token explode ran 2x
        # slower with the inferred filter; plan showed the tokenize
        # expression 5x in Filter+Project). The rule only pays when the
        # generator input is a STORED column (scan-pushable); this
        # engine's generators are always computed expressions, at any
        # scale — a workload property, not a local-mode tune (round 13)
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # generated-class cache (static, JVM-wide; default 100 entries): one
        # curation-chain plus near_dup_clusters pass compiles ~230 distinct
        # Janino classes, so the default LRU evicts each pass's classes
        # before the next pass reuses them and every re-run recompiles
        # ~210 of them on the driver and in tasks (~2.3 s of compile
        # time). 1000 holds that working set with headroom; warm re-runs
        # then compile ~20 classes, at ~2 MiB more Metaspace per pass
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def connect(
    spark: SparkSession | None = None,
    data_dir: str | None = None,
    **spark_kwargs,
) -> "RasgoSession":
    """Create a session (reference: rasgoql.connect(creds), main.py:15-35).

    ``data_dir`` is the default namespace for bare table names — the analog of
    the reference's "magic fqtn handler" default-namespace completion
    (data/base.py:98-110): ``dataset('lineitem')`` resolves to
    ``{data_dir}/lineitem.parquet`` when not in the Spark catalog.
    """
    return RasgoSession(spark or default_spark(**spark_kwargs), data_dir=data_dir)


# (spark id, abspath, file signature) -> resolved DataFrame; see _read_parquet
_PARQUET_MEMO: dict = {}
_PARQUET_MEMO_MAX = 64


def _path_sig(path: str):
    """Cheap content fingerprint: file names + mtimes + sizes (one listdir)."""
    try:
        if os.path.isdir(path):
            out = []
            for f in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, f))
                out.append((f, st.st_mtime_ns, st.st_size))
            return tuple(out)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None  # path raced away — treat as uncacheable


class RasgoSession:
    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.data_dir = data_dir

    # ------------------------------------------------------------- resolve

    def table_df(self, name: str) -> DataFrame:
        """Resolve a name to a DataFrame: catalog table, file path, or
        ``{data_dir}/{name}.parquet``."""
        ext = os.path.splitext(name)[1].lower()
        if ext in _FILE_EXTS:
            if not os.path.exists(name):
                raise TableAccessError(f"no such file: {name}")
            if _FILE_EXTS[ext] == "parquet":
                return self._read_parquet(name)
            return self.spark.read.format(_FILE_EXTS[ext]).option("header", "true").load(name)
        try:
            if self.spark.catalog.tableExists(name):
                return self.spark.table(name)
        except Exception:
            pass
        if self.data_dir:
            p = os.path.join(self.data_dir, f"{name}.parquet")
            if os.path.exists(p):
                return self._read_parquet(p)
        raise TableAccessError(
            f"{name!r} is not a catalog table, readable file path, or a table "
            f"under data_dir={self.data_dir!r}"
        )

    def _read_parquet(self, path: str) -> DataFrame:
        """Parquet reader that tolerates TIMESTAMP(NANOS) columns.

        Spark 4 refuses nanosecond parquet timestamps outright. The scan stays
        fully distributed: flip ``legacy.parquet.nanosAsLong``, read the nanos
        as int64, and convert with integer division (``DIV 1000`` — plain
        ``/1000`` in double would lose precision above 2^53 ns) to microsecond
        timestamps, matching how DuckDB/Arrow truncate ns → us.

        Resolved frames are memoized per (session, path, file signature):
        every ``dataset()`` call otherwise pays pyarrow footer reads plus a
        JVM schema-inference round trip (~50-150 ms driver-side, per call —
        at bench cadence that is per timed run). The signature is the file
        set with mtimes+sizes, so overwriting a path (save/index-update
        tests, streaming sinks) naturally misses the memo; the memoized
        DataFrame is an immutable logical plan, safe to share across chains.
        """
        sig = _path_sig(path)
        if sig is None:
            return self._read_parquet_uncached(path)
        # the session OBJECT is part of the key (not id(), which the
        # allocator reuses): a frame is only ever served back to the exact
        # session that resolved it
        key = (self.spark, os.path.abspath(path), sig)
        hit = _PARQUET_MEMO.get(key)
        if hit is not None:
            return hit
        df = self._read_parquet_uncached(path)
        if len(_PARQUET_MEMO) >= _PARQUET_MEMO_MAX:
            _PARQUET_MEMO.pop(next(iter(_PARQUET_MEMO)))
        _PARQUET_MEMO[key] = df
        return df

    def _read_parquet_uncached(self, path: str) -> DataFrame:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        targets = [path]
        if os.path.isdir(path):
            # inspect EVERY footer: a mixed directory where only a later file
            # carries ns columns must still trigger the conversion
            targets = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ) or [path]
        ns_cols: set[str] = set()
        for target in targets:
            try:
                schema = pq.read_schema(target)
            except Exception:
                continue
            ns_cols.update(
                f.name
                for f in schema
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            )
        if not ns_cols:
            return self.spark.read.parquet(path)
        # the conf is captured when spark.read resolves the schema, so it can
        # be restored immediately after — later unrelated reads on the shared
        # session see their original behavior
        prev = self.spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = self.spark.read.parquet(path)
        finally:
            if prev is None:
                self.spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        dtypes = dict(df.dtypes)
        for c in sorted(ns_cols):
            if dtypes.get(c) == "bigint":  # only ns columns read as raw int64
                df = df.withColumn(
                    c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS BIGINT))")
                )
        return df

    # ------------------------------------------------------------ factories

    def dataset(self, fqtn: str) -> Dataset:
        """Bind a Dataset to a table/path (reference main.py:53-60)."""
        return Dataset(self, self.table_df(fqtn), fqtn)

    def sqlchain(self, fqtn: str) -> SQLChain:
        """Start an empty chain over a table (reference main.py:134-144)."""
        return SQLChain(self, self.table_df(fqtn), fqtn)

    def stream(self, path: str, max_files_per_trigger: int | None = None) -> SQLChain:
        """Start a chain over a STREAMING DataFrame (file source — each new
        parquet file in ``path`` becomes a micro-batch). The same transform
        surface applies; batch-only transforms raise up front (additive
        extension — the reference has no streaming surface, SURVEY §2.2)."""
        target = path
        if not os.path.isabs(path) and self.data_dir:
            cand = os.path.join(self.data_dir, path)
            if os.path.exists(cand):
                target = cand
        schema = self.spark.read.parquet(target).schema
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return SQLChain(self, reader.parquet(target), path)

    def dataset_from_df(
        self,
        df: "pd.DataFrame | DataFrame",
        table_name: str,
        method: str = "replace",
    ) -> Dataset:
        """Ingest a pandas (or Spark) DataFrame as a table (reference
        main.py:62-85; column names cleansed per utils/df.py:23-29)."""
        if isinstance(df, pd.DataFrame):
            sdf = self.spark.createDataFrame(df)
        else:
            sdf = df
        sdf = sdf.toDF(*[cleanse_name(c) for c in sdf.columns])
        mode = {"append": "append", "replace": "overwrite"}.get(method.lower())
        if mode is None:
            raise ParameterException("method must be 'append' or 'replace'")
        if mode == "overwrite":
            # 'replace' must succeed even when a previous (killed) session
            # left the managed location on disk without a catalog entry —
            # saveAsTable raises LOCATION_ALREADY_EXISTS on that orphan.
            # DROP handles the registered case (managed data goes with it);
            # _clear_orphan_location removes the leftover directory only
            # after verifying no catalog entry still resolves to it.
            self.spark.sql(f"DROP TABLE IF EXISTS {table_name}")
            self._clear_orphan_location(table_name)
        sdf.write.mode(mode).saveAsTable(table_name)
        return self.dataset(table_name)

    def _clear_orphan_location(self, table_name: str) -> None:
        """Delete ``table_name``'s DEFAULT managed location iff it exists on
        disk and no registered table (in any database) points at it.

        The candidate path is derived from the table's TARGET database (the
        qualified prefix, else the session's current database) — not the
        warehouse root — so ``USE mydb`` or a ``db.tbl`` name can never make
        this delete another database's directory; and the ownership sweep
        protects tables that set that path as an explicit LOCATION."""
        spark = self.spark
        try:
            parts = table_name.split(".")
            tbl = parts[-1]
            db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
            db_loc = None
            for r in spark.sql(f"DESCRIBE DATABASE `{db}`").collect():
                if str(r[0]).strip().lower().startswith("location"):
                    db_loc = str(r[1])
            if not db_loc:
                return
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(f"{db_loc.rstrip('/')}/{tbl.lower()}")
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(p):
                return
            cand = str(fs.makeQualified(p).toUri())
            for d in spark.catalog.listDatabases():
                for t in spark.catalog.listTables(d.name):
                    try:
                        rows = spark.sql(
                            f"DESCRIBE TABLE EXTENDED `{d.name}`.`{t.name}`"
                        ).collect()
                    except Exception:
                        continue  # temp views etc. — no location to clash
                    for r in rows:
                        if str(r[0]).strip() == "Location":
                            q = jvm.org.apache.hadoop.fs.Path(str(r[1]))
                            if str(fs.makeQualified(q).toUri()) == cand:
                                return  # a live table owns this path
            fs.delete(p, True)
        except Exception:
            pass  # non-default layouts: let saveAsTable report

    # ------------------------------------------------------------- raw SQL

    def query(
        self,
        sql: str,
        acknowledge_risk: bool = False,
        response: str = "tuple",
    ) -> "list[tuple] | list[dict]":
        """Run raw SQL, returning rows (reference main.py:102-110 with the
        dangerous-keyword guard, utils/sql.py:30-38). ``response`` mirrors
        the reference's ResponseType (primitives/enums.py:92-112,
        data/snowflake.py:291-327): ``'tuple'`` (default) or ``'dict'``
        for one column-name-keyed dict per row."""
        check_sql(sql, acknowledge_risk)
        r = response.lower()
        if r not in ("tuple", "dict"):
            raise ParameterException("response must be 'tuple' or 'dict'")
        rows = self.spark.sql(sql).collect()
        if r == "dict":
            return [row.asDict() for row in rows]
        return [tuple(row) for row in rows]

    def query_into_df(
        self, sql: str, acknowledge_risk: bool = False, batches: bool = False
    ) -> "pd.DataFrame | Iterator[pd.DataFrame]":
        """Run raw SQL into pandas (reference main.py:112-121)."""
        check_sql(sql, acknowledge_risk)
        df = self.spark.sql(sql)
        if batches:
            return (b.to_pandas() for b in df.toArrow().to_batches())
        return df.toPandas()

    # -------------------------------------------------------------- catalog

    def list_tables(self, database: str | None = None) -> list[dict]:
        """List catalog tables (reference main.py:37-45)."""
        tables = self.spark.catalog.listTables(dbName=database)
        return [
            {"name": t.name, "database": t.namespace, "type": t.tableType, "temporary": t.isTemporary}
            for t in tables
        ]

    def list_transforms(self) -> list[str]:
        """Registered transform names (reference main.py:47-51)."""
        return [t.name for t in registry.list_transforms()]

    def define_transform(self, name: str) -> str:
        """Docstring/signature for one transform (reference main.py:87-100)."""
        return registry.define_transform(name)
