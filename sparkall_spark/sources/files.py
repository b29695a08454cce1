"""File-based sources: parquet, CSV, JSON, ORC.

One-liners over ``spark.read`` (reference: SparkExecutor.scala:86-87 for
csv/parquet).  Options come straight from the mapping's merged config
(reference config keys use '_' where Spark uses '.', e.g.
``spark_sql_parquet_filterPushdown`` — normalized here).

Scale notes: predicate pushdown and column pruning reach these scans via
Catalyst as long as the caller selects/filters on the returned frame
lazily (our executor does).  ``mergeSchema`` stays off by default —
schema merging at 100 TB is a full-footer scan.

Schema memo: inferring a file source's schema runs a Spark job (parquet
and orc read footers, csv and json sample rows), and the engine loads
every star's source on every query.  ``read_files`` therefore keeps each
inferred schema on the session and re-reads with ``.schema(memo)``; Spark
still lists the files on every read, so new files and new data show as
before.  The key is the format, path, reader options and the inference
confs below, and an entry is valid only while the path's Hadoop
``FileStatus`` (modification time, length) is unchanged.  A path without
a usable status (a glob, a missing path, a store that reports no
modification time) is read without the memo.  Not detected: an in-place
rewrite of one file inside a directory that leaves the directory's own
status unchanged, and a mid-session change to an inference conf outside
the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparkall_spark.mappings import EntityMapping

# mapping-level option keys that are engine hints, not Spark reader options
_ENGINE_OPTIONS = {"broadcast"}

# session confs that change what inference returns and that this package
# sets at run time (the events fixture reader); their values join the key
_INFERENCE_CONFS = {"parquet": ("spark.sql.legacy.parquet.nanosAsLong",)}

_MEMO_ATTR = "_sparkall_schema_memo"


class _SchemaMemo:
    """One session's inferred schemas: (format, path, options, conf
    values) -> (path fingerprint, schema).  A changed fingerprint
    replaces the entry, so there is one entry per source."""

    def __init__(self, spark: SparkSession):
        self.path_cls = spark._jvm.org.apache.hadoop.fs.Path
        self.hadoop_conf = spark._jsc.hadoopConfiguration()
        self.entries: dict[tuple, tuple] = {}

    def fingerprint(self, path: str) -> tuple[int, int] | None:
        try:
            jpath = self.path_cls(path)
            st = jpath.getFileSystem(self.hadoop_conf).getFileStatus(jpath)
            mtime = st.getModificationTime()
        except Exception:
            return None
        return (mtime, st.getLen()) if mtime > 0 else None


def read_files(
    spark: SparkSession, fmt: str, path: str, options: dict[str, str]
) -> DataFrame:
    """``spark.read.format(fmt).options(**options).load(path)``, with the
    inferred schema memoized on the session (see the module docstring)."""
    reader = spark.read.format(fmt).options(**options)
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = _SchemaMemo(spark)
        setattr(spark, _MEMO_ATTR, memo)
    # fingerprint BEFORE inferring: a rewrite racing the inference then
    # stores its schema under the old fingerprint, which the next read
    # no longer matches, never a stale schema under the new one
    fp = memo.fingerprint(path)
    if fp is None:
        return reader.load(path)
    key = (
        fmt,
        path,
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS.get(fmt, ())),
    )
    hit = memo.entries.get(key)
    if hit is not None and hit[0] == fp:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    memo.entries[key] = (fp, df.schema)
    return df


def _spark_options(mapping: EntityMapping) -> dict[str, str]:
    out = {}
    for k, v in mapping.options.items():
        if k in _ENGINE_OPTIONS or k.startswith("spark_sql_"):
            continue  # session-level confs, handled at session build
        out[k] = v
    return out


def read_parquet(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    return read_files(spark, "parquet", mapping.source, _spark_options(mapping))


def read_csv(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    opts = {"header": "true", "inferSchema": "true"}
    opts.update(_spark_options(mapping))
    return read_files(spark, "csv", mapping.source, opts)


def read_json(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    return read_files(spark, "json", mapping.source, _spark_options(mapping))


def read_orc(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    return read_files(spark, "orc", mapping.source, _spark_options(mapping))


def read_text(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    """Raw text lines (one row per line, column ``value``) plus an
    OPAQUE unique ``line_id`` — the minimal ingestion surface for
    line-delimited corpora that aren't JSON.

    ``line_id`` is ``monotonically_increasing_id()``: unique and
    increasing within a partition, but its values depend on the file
    split layout — treat it as an opaque key, not a stable line number
    (a per-file row_number would force a full shuffle at ingest, wrong
    at 100 TB).  ``wholetext=true`` in the mapping options switches to
    one-row-per-file for document-per-file layouts and adds a ``file``
    column (the input path) as the deterministic document key."""
    from pyspark.sql import functions as F

    opts = _spark_options(mapping)
    # format().load(), not .text(): DataFrameReader.text()'s wholetext
    # kwarg default overwrites any wholetext set via .options()
    df = spark.read.format("text").options(**opts).load(mapping.source)
    df = df.withColumn("line_id", F.monotonically_increasing_id())
    if str(opts.get("wholetext", "")).lower() == "true":
        df = df.withColumn("file", F.input_file_name())
    return df
