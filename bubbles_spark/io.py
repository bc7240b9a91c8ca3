"""Sources / sinks / stores (SURVEY.md §1.3, §2.1).

A bubbles ``DataStore`` is a named container of data objects
(bubbles/stores.py::DataStore, open_store).  Here a store wraps
``spark.read`` / ``df.write`` for one location+format; the extension
registry (bubbles/extensions.py) maps to the ``open_store(type=...)``
factory below plus Spark's own DataSource registry for anything else.

Scale posture: readers take explicit schemas (no inferSchema on the
100 TB path), writers partition by user-chosen columns, and the
parquet store relies on Catalyst pushdown (PushedFilters/ReadSchema)
rather than any engine-side filtering.  ``load_table`` infers a
table's schema once per file identity (``table_schema``: the absolute
path plus inode, size and mtime of every data file) and reads with
that explicit schema from then on, so a warm load runs no Spark job.
"""

from __future__ import annotations

import os
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bubbles_spark.schema import FieldList

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# abspath -> (file identity, StructType); see table_schema
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet table's ``StructType``, inferred by Spark (one
    footer-reading job) only when the table's file identity changed
    since the last call.  The identity is ``(path, st_ino, st_size,
    st_mtime_ns)`` of the file, or of every data file under a directory
    table (skipping names that start with ``_`` or ``.``, as Spark
    does), so any rewrite, append or schema change infers again.  The
    returned object is shared: do not mutate it."""
    path = os.path.abspath(path)
    files = [path] if os.path.isfile(path) else []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "_.")
        files += [os.path.join(root, n) for n in sorted(names) if n[0] not in "_."]
    stats = [(f, os.stat(f)) for f in files]
    ident = tuple((f, st.st_ino, st.st_size, st.st_mtime_ns) for f, st in stats)
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != ident:
        hit = _SCHEMAS[path] = (ident, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md) with the
    schema ``table_schema`` keeps for it.

    Handles parquet TIMESTAMP(NANOS) (events.ts), which Spark has no
    native type for: read as long and truncate to a µs timestamp —
    matching DuckDB, which also truncates ns → µs.  Reading ns as long
    needs ``spark.sql.legacy.parquet.nanosAsLong`` (set by
    ``session.get_spark``) at inference and again at execution time.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


class DataStore:
    """Abstract store (bubbles/stores.py::DataStore): get_object /
    objects / create / exists."""

    def get_object(self, name: str) -> DataFrame:
        raise NotImplementedError

    def objects(self) -> list[str]:
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        return name in self.objects()

    def create(
        self,
        name: str,
        fields: FieldList | None = None,
        replace: bool = False,
        from_obj: DataFrame | None = None,
    ) -> None:
        raise NotImplementedError


class FileStore(DataStore):
    """Directory of files, one object per basename.  Covers the
    reference's CSV backend (bubbles/backends/text/objects.py::
    CSVSource/CSVTarget — S1/S2) and adds parquet/json (the scale
    formats the reference never had)."""

    format: str = "parquet"
    extension: str = ".parquet"

    def __init__(self, spark: SparkSession, path: str, **reader_options: Any):
        self.spark = spark
        self.path = path
        self.reader_options = reader_options

    def _file(self, name: str) -> str:
        return os.path.join(self.path, f"{name}{self.extension}")

    def objects(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            f[: -len(self.extension)]
            for f in os.listdir(self.path)
            if f.endswith(self.extension)
        )

    def exists(self, name: str) -> bool:
        return os.path.exists(self._file(name))

    def get_object(self, name: str, fields: FieldList | None = None) -> DataFrame:
        reader = self.spark.read
        if fields is not None:
            reader = reader.schema(fields.to_struct())
        for k, v in self.reader_options.items():
            reader = reader.option(k, v)
        return reader.format(self.format).load(self._file(name))

    def create(
        self,
        name: str,
        fields: FieldList | None = None,
        replace: bool = False,
        from_obj: DataFrame | None = None,
        partition_by: Sequence[str] | None = None,
        zorder: Sequence[str] | None = None,
    ) -> None:
        if from_obj is None:
            raise ValueError("create() requires from_obj (a DataFrame)")
        if zorder:
            # cluster along the Morton curve of these columns before
            # writing so every file gets a tight min-max envelope on
            # each of them — multi-column file skipping on vanilla
            # parquet (ops/layout.py; the Delta OPTIMIZE ZORDER BY
            # counterpart for this store)
            from bubbles_spark.ops.layout import zorder_by

            from_obj = zorder_by(from_obj, list(zorder))
        writer = from_obj.write.format(self.format)
        for k, v in self.reader_options.items():
            if k != "inferSchema":  # reader-only option
                writer = writer.option(k, v)
        writer = writer.mode("overwrite" if replace else "errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(self._file(name))

    def upsert(
        self,
        name: str,
        updates: DataFrame,
        keys: str | Sequence[str],
        partition_by: Sequence[str] | None = None,
    ) -> None:
        """SCD type-1 merge into a stored object: rows whose key
        matches an update are REPLACED, new keys are appended,
        unmatched existing rows are kept (the MERGE
        WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT shape — the
        dimension-maintenance twin of ops.core.scd2_merge, which
        versions instead of replacing).

        Without ``partition_by`` this is read-merge-rewrite: an
        anti-join keeps the non-matching rows, the updates union on,
        and the result REWRITES the object (staged to a temp object
        then renamed, so a mid-write failure leaves the original
        intact; concurrent writers need a real lakehouse format —
        ``lakehouse.DeltaStore``/``IcebergStore`` push this same
        merge down to an ACID MERGE INTO).

        With ``partition_by`` (the object must have been created with
        the same partitioning) the merge is PARTITION-PRUNED — the
        100 TB path: only the hive partitions that appear in the
        updates batch are read (partition filter → pruned listing),
        merged, and rewritten via dynamic partition overwrite; the
        rest of the table is untouched.  Constraint inherent to the
        layout: a key's partition values must be stable across
        upserts (a row "moving" partitions would leave its old
        version behind) — use the full-rewrite form when partition
        values can change.
        """
        from pyspark.sql import functions as F

        key_list = [keys] if isinstance(keys, str) else list(keys)
        if not self.exists(name):
            self.create(name, from_obj=updates, partition_by=partition_by)
            return

        if partition_by:
            part_cols = list(partition_by)
            # affected partition values: metadata-sized collect (the
            # updates batch touches a bounded set of partitions)
            touched = updates.select(*part_cols).distinct().collect()
            if not touched:
                return  # empty updates batch: nothing to merge
            pred = None
            for row in touched:
                clause = None
                for c in part_cols:
                    term = (
                        F.col(c).isNull()
                        if row[c] is None
                        else (F.col(c) == F.lit(row[c]))
                    )
                    clause = term if clause is None else (clause & term)
                pred = clause if pred is None else (pred | clause)
            affected = self.get_object(name).filter(pred)
            merged = affected.join(
                updates.select(*key_list).dropDuplicates(key_list),
                key_list,
                "left_anti",
            ).unionByName(updates)
            spark = updates.sparkSession
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                writer = merged.write.format(self.format).mode("overwrite")
                for k, v in self.reader_options.items():
                    if k != "inferSchema":
                        writer = writer.option(k, v)
                writer.partitionBy(*part_cols).save(self._file(name))
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            return

        current = self.get_object(name)
        merged = current.join(
            updates.select(*key_list).dropDuplicates(key_list), key_list, "left_anti"
        ).unionByName(updates)
        tmp = f"__upsert_tmp_{name}"
        self.create(tmp, from_obj=merged, replace=True)
        import shutil

        shutil.rmtree(self._file(name))
        os.rename(self._file(tmp), self._file(name))

    def overwrite_partitions(
        self, name: str, updates: DataFrame, partition_by: Sequence[str]
    ) -> None:
        """Idempotent partition backfill: replace EXACTLY the hive
        partitions present in ``updates`` (dynamic partition
        overwrite), leave every other partition byte-identical.  The
        re-run-a-day shape: recomputing one day of a 100 TB table
        must not rewrite — or even list — the other days.  Creates
        the object if absent."""
        part_cols = list(partition_by)
        if not self.exists(name):
            self.create(name, from_obj=updates, partition_by=part_cols)
            return
        spark = updates.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            writer = updates.write.format(self.format).mode("overwrite")
            for k, v in self.reader_options.items():
                if k != "inferSchema":
                    writer = writer.option(k, v)
            writer.partitionBy(*part_cols).save(self._file(name))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def _bytes_on_disk(self, name: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(self._file(name)):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
        return total

    def compact(
        self,
        name: str,
        target_mb: int = 128,
        partition_by: Sequence[str] | None = None,
    ) -> int:
        """Small-files compaction: rewrite the object into
        ceil(bytes/target_mb) right-sized files (staged rewrite, same
        crash discipline as upsert).  Streaming sinks and incremental
        upserts accrete small files until listing + per-file overhead
        dominates scan time; a 100 TB deployment schedules this the
        way it schedules vacuum.  Returns the new file count."""
        import math
        import shutil

        if not self.exists(name):
            raise FileNotFoundError(name)
        n_files = max(
            1, math.ceil(self._bytes_on_disk(name) / (target_mb * 1024 * 1024))
        )
        df = self.get_object(name).repartition(n_files)
        tmp = f"__compact_tmp_{name}"
        if partition_by:
            writer = df.write.format(self.format).mode("overwrite")
            for k, v in self.reader_options.items():
                if k != "inferSchema":
                    writer = writer.option(k, v)
            writer.partitionBy(*list(partition_by)).save(self._file(tmp))
        else:
            self.create(tmp, from_obj=df, replace=True)
        shutil.rmtree(self._file(name))
        os.rename(self._file(tmp), self._file(name))
        return n_files

    # -- snapshots (poor-man's time travel for the plain store) -------

    def _snap_dir(self, name: str, tag: str | None = None) -> str:
        base = os.path.join(self.path, ".snapshots", name)
        return base if tag is None else os.path.join(base, tag)

    def snapshot(self, name: str, tag: str | None = None) -> str:
        """Freeze the object's CURRENT files under an immutable tag —
        lightweight time travel for the plain file store (the
        jar-gated ``lakehouse.DeltaStore``/``IcebergStore`` do this
        transactionally; this is the no-dependency fallback with the
        same read/restore surface).

        Data files HARDLINK into ``.snapshots/<name>/<tag>/`` (no
        byte copy on a posix filesystem; falls back to a real copy
        where linking fails), so the store's staged rewrite paths
        (upsert / compact / restore), which replace the live
        directory wholesale, can never mutate a snapshot — the
        snapshot holds its own references to the immutable parquet
        files.  Returns the tag (auto ``v0001``, ``v0002``... when
        not given).  Snapshots are per-store-directory metadata; at
        a real deployment scale the same layout works on any
        filesystem with cheap links, and object-store users should
        reach for the lakehouse stores instead."""
        import shutil

        if not self.exists(name):
            raise FileNotFoundError(name)
        if tag is None:
            tag = f"v{len(self.list_snapshots(name)) + 1:04d}"
        if os.sep in tag or tag.startswith("."):
            raise ValueError(f"bad snapshot tag: {tag!r}")
        dst = self._snap_dir(name, tag)
        if os.path.exists(dst):
            raise FileExistsError(f"snapshot {tag!r} already exists")
        src = self._file(name)
        staging = dst + ".__staging"
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = os.path.join(staging, rel) if rel != "." else staging
            os.makedirs(out, exist_ok=True)
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # spark markers/CRCs: not data
                s = os.path.join(root, f)
                d = os.path.join(out, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)
        os.rename(staging, dst)
        return tag

    def list_snapshots(self, name: str) -> list[str]:
        base = self._snap_dir(name)
        if not os.path.isdir(base):
            return []
        return sorted(
            t for t in os.listdir(base)
            if not t.startswith(".") and not t.endswith(".__staging")
        )

    def get_snapshot(self, name: str, tag: str) -> DataFrame:
        """Read a frozen snapshot as a DataFrame (same reader options
        as the live object)."""
        path = self._snap_dir(name, tag)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"no snapshot {tag!r} of {name!r}")
        reader = self.spark.read
        for k, v in self.reader_options.items():
            reader = reader.option(k, v)
        return reader.format(self.format).load(path)

    def restore(self, name: str, tag: str) -> None:
        """Roll the live object back to a snapshot (staged: the new
        directory hardlinks/copies from the snapshot, then swaps in —
        the live directory is renamed aside before the staged copy
        renames into place, so at every instant the data exists under
        SOME directory: a crash leaves either the live object intact
        or the old version parked at ``__restore_old_<name>``, never
        a deleted-and-not-yet-replaced gap; the snapshot itself is
        never consumed so a restore can be restored from again)."""
        import shutil

        src = self._snap_dir(name, tag)
        if not os.path.isdir(src):
            raise FileNotFoundError(f"no snapshot {tag!r} of {name!r}")
        tmp = self._file(f"__restore_tmp_{name}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = os.path.join(tmp, rel) if rel != "." else tmp
            os.makedirs(out, exist_ok=True)
            for f in files:
                s = os.path.join(root, f)
                d = os.path.join(out, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)
        live = self._file(name)
        old = self._file(f"__restore_old_{name}")
        if os.path.exists(old):
            shutil.rmtree(old)
        had_live = os.path.exists(live)
        if had_live:
            os.rename(live, old)  # park, don't delete: rename is atomic
        os.rename(tmp, live)
        if had_live:
            shutil.rmtree(old)

    def drop_snapshot(self, name: str, tag: str) -> None:
        import shutil

        path = self._snap_dir(name, tag)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"no snapshot {tag!r} of {name!r}")
        shutil.rmtree(path)


class ParquetStore(FileStore):
    format = "parquet"
    extension = ".parquet"

    def create_bucketed(
        self,
        name: str,
        from_obj: DataFrame,
        bucket_by: str | Sequence[str],
        num_buckets: int = 32,
        sort_by: str | Sequence[str] | None = None,
        replace: bool = False,
    ) -> None:
        """Write a BUCKETED parquet table (external, files under this
        store's path; metadata in the session catalog).  Two tables
        bucketed on the same key with the same bucket count join with
        NO shuffle on either side — the pre-partitioning strategy for
        repeated big-fact joins at 100 TB, where one Exchange of the
        fact table costs more than the entire rest of the query.
        Bucketing requires the catalog (saveAsTable); plain .save()
        cannot record bucket metadata."""
        spark = from_obj.sparkSession
        keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        if replace:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        writer = (
            from_obj.write.format("parquet")
            .option("path", self._file(name))
            .bucketBy(num_buckets, *keys)
        )
        if sort_by:
            sk = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            writer = writer.sortBy(*sk)
        writer.mode("overwrite" if replace else "errorifexists").saveAsTable(name)

    def get_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table back THROUGH THE CATALOG — reading
        the files directly would drop the bucket metadata and
        reintroduce the shuffle."""
        spark = SparkSession.getActiveSession()
        return spark.table(name)


class CSVStore(FileStore):
    """CSV store (S1/S2).  Reference options map: read_header →
    header, dialect/encoding → Spark CSV options, infer_fields →
    inferSchema (A4 path; avoid at scale — pass fields=)."""

    format = "csv"
    extension = ".csv"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        read_header: bool = True,
        infer_fields: bool = False,
        encoding: str = "utf-8",
        delimiter: str = ",",
        **options: Any,
    ):
        options.setdefault("header", str(read_header).lower())
        options.setdefault("inferSchema", str(infer_fields).lower())
        options.setdefault("encoding", encoding)
        options.setdefault("sep", delimiter)
        super().__init__(spark, path, **options)


class JSONStore(FileStore):
    format = "json"
    extension = ".json"


class ORCStore(FileStore):
    """ORC store — the columnar interchange format for Hive/Trino-
    native consumer stacks.  Spark ships the orc datasource built in
    (predicate pushdown + column pruning work exactly as for
    parquet), so this is pure FileStore plumbing."""

    format = "orc"
    extension = ".orc"


class AvroStore(FileStore):
    """Avro store — row-oriented interchange for Kafka/schema-registry
    stacks.  Spark's avro datasource lives in the EXTERNAL
    ``spark-avro`` package (org.apache.spark:spark-avro_2.13:<ver>),
    not the default distribution; constructing this store probes the
    classpath and raises a clear error naming the missing jar when
    absent (same honest gate as the Mongo/Delta stores)."""

    format = "avro"
    extension = ".avro"

    def __init__(self, spark: SparkSession, path: str, **reader_options: Any):
        # probe through Spark's own datasource resolution (a bare
        # Class.forName finds avro's classes in the distribution even
        # though the datasource is not deployable)
        try:
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsparkSession.sessionState().conf()
            )
        except Exception:
            raise RuntimeError(
                "AvroStore needs the spark-avro package on the classpath "
                "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
            )
        super().__init__(spark, path, **reader_options)


class MemoryStore(DataStore):
    """In-memory scratch objects (bubbles/objects.py::
    IterableDataSource / RowListDataObject — S9).  Consumability
    bookkeeping from the reference disappears: DataFrames are always
    re-iterable (lineage recomputes)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._objects: dict[str, DataFrame] = {}

    def objects(self) -> list[str]:
        return sorted(self._objects)

    def get_object(self, name: str) -> DataFrame:
        return self._objects[name]

    def create(
        self,
        name: str,
        fields: FieldList | None = None,
        replace: bool = False,
        from_obj: DataFrame | Iterable | None = None,
    ) -> None:
        if name in self._objects and not replace:
            raise ValueError(f"object {name!r} exists (pass replace=True)")
        if isinstance(from_obj, DataFrame):
            df = from_obj
        else:
            if fields is None:
                raise ValueError("row-iterable create() requires fields=")
            df = self.spark.createDataFrame(list(from_obj or []), fields.to_struct())
        self._objects[name] = df


class JDBCStore(DataStore):
    """SQL backend (bubbles/backends/sql/objects.py::SQLDataStore —
    S3/S4/S5) via Spark's JDBC source.  ``statement`` mirrors
    SQLDataStore.statement: an arbitrary query pushed to the database.

    Tested offline against the Derby embedded driver that ships inside
    Spark's own jars (tests/test_stores.py::TestJDBCStore) — full
    round-trip: create → objects → get_object → statement, plus
    partitioned parallel reads.  Scale posture: reads accept the
    standard ``partitionColumn/lowerBound/upperBound/numPartitions``
    options so a big table fans out over executors instead of
    streaming through one JDBC cursor; ``query``/``dbtable`` predicates
    push down to the database."""

    def __init__(self, spark: SparkSession, url: str, **options: Any):
        self.spark = spark
        self.url = url
        self.options = options

    def objects(self) -> list[str]:
        """Enumerate user tables via the portable JDBC DatabaseMetaData
        API (works on any JDBC database — no per-dialect
        information_schema query needed).  Runs driver-side over py4j:
        metadata-sized, never a data path."""
        jvm = self.spark._jvm
        props = jvm.java.util.Properties()
        for k in ("user", "password"):
            if k in self.options:
                props.setProperty(k, str(self.options[k]))
        if "driver" in self.options:
            # ensure the driver class is registered with DriverManager
            jvm.java.lang.Class.forName(self.options["driver"])
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            rs = conn.getMetaData().getTables(None, None, "%", None)
            out = []
            while rs.next():
                if rs.getString("TABLE_TYPE") == "TABLE":
                    out.append(rs.getString("TABLE_NAME"))
            return sorted(out)
        finally:
            conn.close()

    def get_object(self, name: str) -> DataFrame:
        return (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", name)
            .options(**self.options)
            .load()
        )

    def statement(self, sql: str) -> DataFrame:
        return (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", sql)
            .options(**self.options)
            .load()
        )

    def create(
        self,
        name: str,
        fields: FieldList | None = None,
        replace: bool = False,
        from_obj: DataFrame | None = None,
    ) -> None:
        if from_obj is None:
            raise ValueError("create() requires from_obj")
        (
            from_obj.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", name)
            .options(**self.options)
            .mode("overwrite" if replace else "errorifexists")
            .save()
        )


class XLSStore(DataStore):
    """XLS/XLSX source (bubbles/backends/xls — S6, read-only in the
    reference too).  Spark has no built-in Excel reader; the sheet is
    read driver-side (Excel files are small by nature — they cap at
    ~1M rows — so a driver read then createDataFrame is the honest
    scale story; a 100 TB pipeline does not start from .xls).

    Both formats read FOR REAL with no third-party engine
    (pandas.read_excel via openpyxl/xlrd is preferred when installed —
    it covers more of the format):

    - .xlsx: OOXML is a zip of XML parts, parsed by
      bubbles_spark/xlsx.py on the stdlib.
    - .xls: the legacy OLE2/BIFF8 binary, parsed by
      bubbles_spark/xls_biff.py on the stdlib ([MS-CFB]+[MS-XLS];
      cell values incl. cached formula results and date XFs)."""

    def __init__(self, spark: SparkSession, path: str, **read_excel_options: Any):
        self.spark = spark
        self.path = path
        self.options = read_excel_options

    def objects(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            f.rsplit(".", 1)[0]
            for f in os.listdir(self.path)
            if f.endswith((".xls", ".xlsx"))
        )

    def get_object(self, name: str, sheet: str | int = 0) -> DataFrame:
        import pandas as pd

        for ext in (".xlsx", ".xls"):
            f = os.path.join(self.path, f"{name}{ext}")
            if not os.path.exists(f):
                continue
            # engine preference per format: openpyxl reads OOXML only,
            # xlrd reads BIFF only — probe the right one, fall back to
            # the matching stdlib parser
            if ext == ".xlsx":
                try:
                    import openpyxl  # noqa: F401 — engine probe

                    pdf = pd.read_excel(f, sheet_name=sheet, **self.options)
                    return self.spark.createDataFrame(pdf)
                except ImportError:
                    from bubbles_spark.xlsx import read_rows
            else:
                try:
                    import xlrd  # noqa: F401

                    pdf = pd.read_excel(
                        f, sheet_name=sheet, engine="xlrd", **self.options
                    )
                    return self.spark.createDataFrame(pdf)
                except ImportError:
                    from bubbles_spark.xls_biff import read_rows

            # stdlib path: first row = header, rest = data
            rows = read_rows(f, sheet)
            if not rows:
                raise ValueError(f"{f}: empty sheet")
            header = [str(c) for c in rows[0]]
            width = len(header)
            body = [tuple((r + [None] * width)[:width]) for r in rows[1:]]
            pdf = pd.DataFrame(body, columns=header)
            return self.spark.createDataFrame(pdf)
        raise FileNotFoundError(f"no {name}.xls[x] under {self.path}")

    def create(self, *a: Any, **kw: Any) -> None:
        raise NotImplementedError("XLS store is read-only (as in the reference)")


MONGO_COORD = "org.mongodb.spark:mongo-spark-connector_2.13:10.5.0"


def mongo_available(spark: SparkSession) -> bool:
    """True when the mongo-spark connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "com.mongodb.spark.sql.connector.MongoTableProvider"
        )
        return True
    except Exception:
        return False


class MongoStore(DataStore):
    """MongoDB collections (bubbles/backends/mongo — S7).  Needs the
    mongo-spark connector jar (``--packages`` coordinate in
    ``MONGO_COORD``) + a running server, neither present here; the
    store probes the classpath lazily so the plumbing is real and the
    missing-jar error is explicit."""

    def __init__(self, spark: SparkSession, uri: str, database: str, **options: Any):
        self.spark = spark
        self.uri = uri
        self.database = database
        self.options = options

    def _require(self) -> None:
        if not mongo_available(self.spark):
            raise NotImplementedError(
                "mongo-spark connector not on the classpath; start the "
                f"session with --packages {MONGO_COORD} (and a reachable "
                "mongod)"
            )

    def objects(self) -> list[str]:
        raise NotImplementedError("enumerate collections via a Mongo client")

    def get_object(self, name: str) -> DataFrame:
        self._require()
        return (
            self.spark.read.format("mongodb")
            .option("connection.uri", self.uri)
            .option("database", self.database)
            .option("collection", name)
            .options(**self.options)
            .load()
        )

    def create(
        self,
        name: str,
        fields: FieldList | None = None,
        replace: bool = False,
        from_obj: DataFrame | None = None,
    ) -> None:
        if from_obj is None:
            raise ValueError("create() requires from_obj")
        self._require()
        (
            from_obj.write.format("mongodb")
            .option("connection.uri", self.uri)
            .option("database", self.database)
            .option("collection", name)
            .mode("overwrite" if replace else "errorifexists")
            .save()
        )


class FixedWidthStore(DataStore):
    """Fixed-width text source — the mainframe-export / COBOL-extract
    format the reference's CSV machinery can't slice (beyond-reference
    §2.1 surface).  ``colspecs`` maps each field to a 0-based
    half-open CHARACTER range: ``[("id", 0, 6), ("name", 6, 26)]``.

    Scale shape: ``spark.read.text`` splits by newlines like any text
    source (splittable, partition-parallel), and every field is one
    codegen'd ``substring`` + ``trim`` + optional cast — map-only, no
    Python.  Offsets count CHARACTERS (Spark substring semantics);
    byte-oriented encodings with multibyte characters need a byte
    schema upstream.  ``fields`` (name → Spark type string) casts
    with ``try_cast`` so a malformed row yields NULLs, not an ANSI
    abort mid-scan."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        colspecs: Sequence[tuple],
        fields: dict | None = None,
        skip_blank: bool = True,
        trim: bool = True,
    ):
        if not colspecs:
            raise ValueError("colspecs must list at least one field")
        for name, start, end in colspecs:
            if not (0 <= start < end):
                raise ValueError(
                    f"colspec {name!r}: need 0 <= start < end, "
                    f"got [{start}, {end})"
                )
        self.spark = spark
        self.path = path
        self.colspecs = list(colspecs)
        self.fields = dict(fields or {})
        self.skip_blank = skip_blank
        self.trim = trim

    def objects(self) -> list[str]:
        return [os.path.splitext(os.path.basename(self.path))[0]]

    def get_object(self, name: str | None = None) -> DataFrame:
        from pyspark.sql import functions as F

        raw = self.spark.read.text(self.path)
        if self.skip_blank:
            raw = raw.filter(F.trim(F.col("value")) != "")
        cols = []
        for cname, start, end in self.colspecs:
            c = F.substring(F.col("value"), start + 1, end - start)
            if self.trim:
                c = F.trim(c)
            typ = self.fields.get(cname)
            if typ:
                c = c.try_cast(typ)
            cols.append(c.alias(cname))
        return raw.select(*cols)


class DataPackageStore(DataStore):
    """Frictionless Data Package source (bubbles/datapackage.py — S8):
    a ``datapackage.json`` descriptor whose resources become objects.
    Pure stdlib JSON + the Spark CSV reader with the descriptor's
    Table Schema mapped onto an explicit StructType — no inferSchema
    scan, which is the scale-correct reading of the reference's
    schema-first philosophy."""

    _TYPE_MAP = {
        "string": "string",
        "integer": "long",
        "number": "double",
        "boolean": "boolean",
        "date": "date",
        "datetime": "timestamp",
        "year": "int",
    }

    def __init__(self, spark: SparkSession, path: str):
        import json

        self.spark = spark
        self.path = path
        desc_file = (
            path if path.endswith(".json") else os.path.join(path, "datapackage.json")
        )
        with open(desc_file) as fh:
            self.descriptor = json.load(fh)
        self.base = os.path.dirname(desc_file)
        self._resources = {
            r["name"]: r for r in self.descriptor.get("resources", []) if "name" in r
        }

    def objects(self) -> list[str]:
        return sorted(self._resources)

    def _schema_ddl(self, resource: dict) -> str | None:
        fields = resource.get("schema", {}).get("fields")
        if not fields:
            return None
        cols = [
            f"`{f['name']}` {self._TYPE_MAP.get(f.get('type', 'string'), 'string')}"
            for f in fields
        ]
        return ", ".join(cols)

    def get_object(self, name: str) -> DataFrame:
        r = self._resources[name]
        path = os.path.join(self.base, r.get("path", f"{name}.csv"))
        dialect = r.get("dialect", {})
        reader = (
            self.spark.read.option("header", "true")
            .option("sep", dialect.get("delimiter", ","))
            .option("quote", dialect.get("quoteChar", '"'))
        )
        ddl = self._schema_ddl(r)
        if ddl:
            reader = reader.schema(ddl)
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)

    def create(self, *a: Any, **kw: Any) -> None:
        raise NotImplementedError("data packages are a read-only source (S8)")


_STORE_TYPES = {
    "parquet": ParquetStore,
    "csv": CSVStore,
    "json": JSONStore,
    "memory": MemoryStore,
    "sql": JDBCStore,
    "jdbc": JDBCStore,
    "xls": XLSStore,
    "fixed_width": FixedWidthStore,
    "mongo": MongoStore,
    "datapackage": DataPackageStore,
}


def open_store(type: str, spark: SparkSession | None = None, **options: Any) -> DataStore:
    """Factory (bubbles/stores.py::open_store + extension registry).
    Unknown types fall through to Spark's own DataSource registry via
    FileStore(format=type)."""
    if spark is None:
        from bubbles_spark.session import get_spark

        spark = get_spark()
    if type in ("delta", "iceberg"):
        # local import: lakehouse.py imports this module
        from bubbles_spark import lakehouse

        cls_lh = lakehouse.DeltaStore if type == "delta" else lakehouse.IcebergStore
        return cls_lh(spark, **options)
    cls = _STORE_TYPES.get(type)
    if cls is not None:
        return cls(spark, **options)
    store = FileStore(spark, options.pop("path"), **options)
    store.format = type
    store.extension = f".{type}"
    return store
