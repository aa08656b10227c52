"""Sources — Jet connectors mapped onto spark.read / spark.readStream.

Reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/pipeline/
Sources.java (172-1350), pipeline/file/FileSources.java:66, and
pipeline/test/TestSources.java:55-211.

Each factory returns ``fn(spark) -> DataFrame`` so `Pipeline.read_from`
can defer reading until the pipeline owns a session.  Predicate/projection
pushdown that Jet implements per-connector (ReadMapOrCacheP server-side
predicates) is native to Spark's scan planning.

The parquet-capable batch readers (``Sources.map``, ``FileSources.files``,
``HadoopSources.input_format``, ``session.load_table``) go through
:func:`read_files`, which infers a parquet or orc schema once per set of
files (see there).
"""

from __future__ import annotations

import copy
import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: formats whose schema is read from the file footers, so a schema
#: inferred once is exact while the files and the session confs stay.
#: The cache is process-wide: its key holds every input of inference,
#: so sessions that share it get the schema their own read would infer.
_FOOTER_FORMATS = ("parquet", "orc")
_SCHEMA_CACHE_SIZE = 256
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def read_files(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None, options: dict | None = None) -> DataFrame:
    """Batch ``spark.read.format(fmt).options(**options).load(path)``
    that infers a parquet or orc schema once.

    Spark infers such a schema with a job of its own
    (``SchemaMergeUtils.mergeSchemasInParallel`` reads the footers as a
    job even for one file), and Jet's file sources know their record
    type before a job starts.  So for a parquet or orc read of an
    absolute local path with no caller schema, the inferred schema is
    kept in a small LRU and passed back with ``.schema()`` on the next
    read, which runs no job.  The cache key is the format, the path,
    the options, the session's SQL confs (one py4j call; a conf such as
    ``spark.sql.parquet.binaryAsString`` changes what inference
    returns) and ``(relpath, size, mtime_ns, inode)`` of every file
    under the path, so a rewritten, added or removed file infers again.
    Every other read (other formats, remote or relative paths, globs,
    a caller schema) is the plain reader call.
    """
    options = options or {}
    r = spark.read.format(fmt).options(**options)
    if schema is not None:
        return r.schema(schema).load(path)
    key = _schema_key(spark, path, fmt, options)
    if key is None:
        return r.load(path)
    with _schemas_lock:
        cached = _schemas.get(key)
        if cached is not None:
            _schemas.move_to_end(key)
    if cached is not None:
        return r.schema(cached).load(path)
    df = r.load(path)
    inferred = copy.deepcopy(df.schema)  # the frame's own can be mutated
    with _schemas_lock:
        _schemas[key] = inferred
        while len(_schemas) > _SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


def _schema_key(spark: SparkSession, path, fmt: str,
                options: dict) -> tuple | None:
    """The cache key of :func:`read_files`, or None for a read it does
    not cache."""
    if fmt not in _FOOTER_FORMATS or not isinstance(path, str):
        return None
    local = local_path(path)
    # a glob is expanded by Hadoop
    if local is None or any(c in local for c in "*?[{\\"):
        return None
    files = _files_fingerprint(local)
    if files is None:
        return None
    confs = spark._jsparkSession.sessionState().conf().getAllConfs().toString()
    opts = tuple(sorted((str(k), str(v)) for k, v in options.items()))
    return fmt, local, opts, confs, files


def local_path(path: str) -> str | None:
    """The absolute local path that ``path`` (a plain path or a
    ``file:`` URI) names, or None for another file system or a relative
    path: a relative path resolves against the JVM's working directory,
    which need not be this process's.  URI escapes are kept."""
    if path.startswith("file:"):
        path = path[len("file:"):]
        if path.startswith("//"):   # file:///abs -> /abs
            path = path[2:]
    return path if path.startswith("/") else None


def _files_fingerprint(root: str) -> tuple | None:
    """``(relpath, size, mtime_ns, inode)`` of every file under ``root``
    (``root`` itself when it is a file); None when it cannot be read."""
    try:
        st = os.stat(root)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        out = []
        for d, _, names in os.walk(root, onerror=_raise, followlinks=True):
            for n in names:
                p = os.path.join(d, n)
                st = os.stat(p)
                out.append((os.path.relpath(p, root), st.st_size,
                            st.st_mtime_ns, st.st_ino))
    except OSError:
        return None
    return tuple(sorted(out))


def _raise(err: OSError):
    raise err


class Sources:
    """Batch + streaming source factories (Sources.java)."""

    # --- batch (Sources.java:172-1350) ----------------------------------

    @staticmethod
    def map(table_path_or_name: str):
        """Sources.map(name) — Sources.java:172: scan an IMap.  IMap ≈ a
        managed columnar table; accepts a parquet path or a catalog name."""
        def read(spark: SparkSession) -> DataFrame:
            if table_path_or_name.endswith(".parquet") or "/" in table_path_or_name:
                return read_files(spark, table_path_or_name)
            return spark.table(table_path_or_name)
        return read

    cache = map          # Sources.cache — Sources.java:691
    remote_map = map     # Sources.remoteMap — Sources.java:525 (other catalog/path)

    @staticmethod
    def files(directory: str):
        """Sources.files(dir) — Sources.java:978: line-by-line text."""
        return lambda spark: spark.read.text(directory)

    @staticmethod
    def json(directory: str, schema=None):
        """Sources.json(dir) — Sources.java:1030: JSON-lines files."""
        def read(spark):
            r = spark.read
            if schema is not None:
                r = r.schema(schema)
            return r.json(directory)
        return read

    @staticmethod
    def jdbc(url: str, table: str, **options):
        """Sources.jdbc — Sources.java:1321 (parallel scan via predicates)."""
        def read(spark):
            return spark.read.format("jdbc").option("url", url).option("dbtable", table).options(**options).load()
        return read

    @staticmethod
    def list(items: list, schema=None):
        """Sources.list(name) — Sources.java:886 (single-partition list)."""
        return lambda spark: spark.createDataFrame(items, schema=schema)

    # --- streaming (Sources.java:381-1265, SURVEY §2.2) -------------------

    @staticmethod
    def map_journal(path: str, fmt: str = "parquet", schema=None):
        """Sources.mapJournal — Sources.java:381: change journal of a table.
        File-stream source over the table directory (new files = journal
        events, replayable from checkpoint = START_FROM_OLDEST)."""
        def read(spark):
            r = spark.readStream.format(fmt)
            if schema is not None:
                r = r.schema(schema)
            return r.load(path)
        return read

    @staticmethod
    def kafka_options(bootstrap_servers: str, *topics: str, **options) -> dict:
        """Build the option map for Spark's kafka source — the part of the
        connector that is unit-testable without a broker (KafkaSources.java:51
        builds the consumer Properties the same way).

        ``topics`` become ``subscribe`` unless the caller passes one of
        Spark's mutually-exclusive alternatives (``assign`` /
        ``subscribePattern``) explicitly; passing both is rejected here
        rather than at stream start.  Consumer properties pass through
        with their ``kafka.`` prefix (e.g. ``**{"kafka.group.id": "g"}``).
        """
        alternatives = [k for k in ("assign", "subscribePattern") if k in options]
        if alternatives and topics:
            raise ValueError(
                f"pass either topic names or {alternatives[0]}=, not both "
                "(Spark's kafka source accepts exactly one subscription mode)")
        if not alternatives and not topics:
            raise ValueError("at least one topic (or assign=/subscribePattern=) required")
        opts = {"kafka.bootstrap.servers": bootstrap_servers}
        if topics:
            opts["subscribe"] = ",".join(topics)
        opts.update(options)
        return opts

    @staticmethod
    def kafka(bootstrap_servers: str, *topics: str, **options):
        """KafkaSources.kafka — extensions/kafka/.../KafkaSources.java:51.
        Offsets checkpointed for exactly-once, same as Jet's snapshots."""
        opts = Sources.kafka_options(bootstrap_servers, *topics, **options)

        def read(spark):
            return spark.readStream.format("kafka").options(**opts).load()
        return read

    @staticmethod
    def socket(host: str, port: int):
        """Sources.socket — Sources.java:950."""
        return lambda spark: (
            spark.readStream.format("socket").option("host", host).option("port", port).load()
        )

    @staticmethod
    def file_watcher(directory: str, fmt: str = "text", schema=None):
        """Sources.fileWatcher / jsonWatcher — Sources.java:1073-1115."""
        def read(spark):
            r = spark.readStream.format(fmt)
            if schema is not None:
                r = r.schema(schema)
            return r.load(directory)
        return read


class FileSources:
    """Unified file connector — pipeline/file/FileSources.java:66 +
    FileFormat.java: avro/csv/json/lines/parquet/binary/whole-text;
    plus the Spark-native formats the reference lacks (orc, xml —
    Spark 4 ships both readers built in)."""

    _FORMATS = {"avro", "csv", "json", "text", "parquet", "binaryFile",
                "orc", "xml"}

    @staticmethod
    def files(path: str, fmt: str = "parquet", schema=None, **options):
        if fmt not in FileSources._FORMATS:
            raise ValueError(f"unsupported format {fmt!r} (have {sorted(FileSources._FORMATS)})")
        def read(spark: SparkSession) -> DataFrame:
            reader = fmt
            if fmt == "avro":
                # spark-avro isn't bundled; jet-avro is the pure-Python
                # container-file data source (avro_io.py)
                from hazelcast_jet_spark import avro_io
                avro_io.register(spark)
                reader = "jet-avro"
            return read_files(spark, path, reader, schema, options)
        return read


class S3Sources:
    """S3 object scan — extensions/s3/.../S3Sources.java:66-223, expressed
    as the s3a:// path + Hadoop-conf halves Spark needs.  The path/conf
    building is the broker-free contract (tested without S3); the IO
    itself goes through Spark's normal readers and needs the hadoop-aws
    jars + credentials on a real cluster."""

    @staticmethod
    def s3_paths(buckets: list[str] | str, prefix: str = "") -> list[str]:
        """s3a:// URIs for each bucket/prefix — Jet's (bucketNames, prefix)
        pair.  Rejects empty bucket names and schemes smuggled into the
        bucket field (a bucket is a name, not a URI)."""
        if isinstance(buckets, str):
            buckets = [buckets]
        if not buckets:
            raise ValueError("at least one bucket required")
        out = []
        for b in buckets:
            if not b or "://" in b or "/" in b:
                raise ValueError(f"invalid bucket name {b!r}")
            key = prefix.lstrip("/")
            out.append(f"s3a://{b}/{key}" if key else f"s3a://{b}/")
        return out

    @staticmethod
    def configure(spark: SparkSession, access_key: str | None = None,
                  secret_key: str | None = None, endpoint: str | None = None,
                  path_style_access: bool | None = None) -> dict:
        """Set the standard fs.s3a.* Hadoop options on the session (the
        AwsConfig analog of S3Sources.java:120); returns the applied map
        so callers/tests can assert it.  None = leave the cluster default
        (instance profile / env chain) in place."""
        conf = {}
        if access_key is not None:
            conf["fs.s3a.access.key"] = access_key
        if secret_key is not None:
            conf["fs.s3a.secret.key"] = secret_key
        if endpoint is not None:
            conf["fs.s3a.endpoint"] = endpoint
        if path_style_access is not None:
            conf["fs.s3a.path.style.access"] = str(path_style_access).lower()
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in conf.items():
            hconf.set(k, v)
        return conf

    @staticmethod
    def s3(buckets: list[str] | str, prefix: str = "", fmt: str = "text",
           schema=None, **options):
        """S3Sources.s3 — one DataFrame over every object under
        ``prefix`` in each bucket (line-per-row for fmt='text', matching
        the reference's default readAsString)."""
        paths = S3Sources.s3_paths(buckets, prefix)

        def read(spark: SparkSession) -> DataFrame:
            r = spark.read.format(fmt).options(**options)
            if schema is not None:
                r = r.schema(schema)
            return r.load(paths)
        return read


class HadoopSources:
    """Hadoop InputFormat scan — extensions/hadoop/.../HadoopSources.java:60
    (``HadoopSources.inputFormat(configuration, projectionFn)``).

    Jet reads arbitrary (K, V) pairs from any InputFormat; Spark's native
    readers cover the common formats columnar-fast, so we map well-known
    InputFormat class names onto ``spark.read.<fmt>`` and fall back to the
    RDD SequenceFile reader (the one Hadoop format with no DataFrame
    reader; Spark bundles the Hadoop client, so this works with zero extra
    jars).  Unknown InputFormat classes are rejected up front rather than
    failing mid-job on the cluster.
    """

    #: InputFormat class (mapred + mapreduce lineages) → Spark reader
    FORMAT_BY_CLASS = {
        "org.apache.hadoop.mapred.TextInputFormat": "text",
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat": "text",
        "org.apache.parquet.hadoop.ParquetInputFormat": "parquet",
        "org.apache.parquet.avro.AvroParquetInputFormat": "parquet",
        "org.apache.hadoop.mapred.SequenceFileInputFormat": "sequence",
        "org.apache.hadoop.mapreduce.lib.input.SequenceFileInputFormat": "sequence",
    }

    @staticmethod
    def input_format(input_format_class: str, path: str,
                     key_col: str = "key", value_col: str = "value",
                     **options):
        """One DataFrame over ``path`` read via the named InputFormat.

        SequenceFiles yield ``(key_col, value_col)`` rows (Writables
        deserialized by Spark's sequenceFile reader — per-partition
        imperative IO is the documented RDD exception); TextInputFormat
        yields ``value_col`` lines (Jet's byte-offset key is an artifact
        of the split reader — every reference example drops it in
        projectFn, so the DataFrame form omits it); Parquet formats yield
        the file's own schema.
        """
        fmt = HadoopSources.FORMAT_BY_CLASS.get(input_format_class)
        if fmt is None:
            raise ValueError(
                f"unsupported InputFormat {input_format_class!r} "
                f"(have {sorted(HadoopSources.FORMAT_BY_CLASS)})")

        def read(spark: SparkSession) -> DataFrame:
            if fmt == "sequence":
                rdd = spark.sparkContext.sequenceFile(path)
                return spark.createDataFrame(rdd, [key_col, value_col])
            if fmt == "text":
                return (spark.read.options(**options).text(path)
                        .withColumnRenamed("value", value_col))
            return read_files(spark, path, options=options)
        return read


class TestSources:
    """pipeline/test/TestSources.java:55-211."""

    @staticmethod
    def items(items: list, schema=None):
        """TestSources.items — TestSources.java:55."""
        return lambda spark: spark.createDataFrame(items, schema=schema)

    @staticmethod
    def item_stream(rate: int, **options):
        """TestSources.itemStream(rate) — TestSources.java:136: synthetic
        timestamped stream ≡ the rate source (columns timestamp, value)."""
        return lambda spark: (
            spark.readStream.format("rate").option("rowsPerSecond", rate).options(**options).load()
        )


def generate_series(spark: SparkSession, start: int, stop: int) -> DataFrame:
    """SQL TABLE(generate_series(a,b)) — hazelcast-jet-sql/.../connector/
    generator/SeriesSqlConnector.java; inclusive bounds like Jet."""
    return spark.range(start, stop + 1).withColumnRenamed("id", "v")


def generate_stream(spark: SparkSession, rate: int) -> DataFrame:
    """SQL TABLE(generate_stream(n)) — connector/generator/
    StreamSqlConnector.java: n BIGINTs per second."""
    return spark.readStream.format("rate").option("rowsPerSecond", rate).load().select("value")
