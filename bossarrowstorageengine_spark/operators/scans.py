"""B.1 scans / sources / sinks (SURVEY.md §2.B1).

Round-trip queries write to a per-(query, sf) scratch dir under the
process's scratch root (``_SCRATCH_ROOT``, in the temp directory) and
re-read through the format under test; the oracle runs the same aggregate
on the ORIGINAL parquet, so a hash match proves the round-trip lossless.

Scale notes: the partitioned sink demonstrates directory partition pruning
(the read lists one ``o_orderstatus=…`` directory); the arrowipc round-trip
exercises the custom data source's parallel write (one IPC file per task)
and stats-pruned parallel read.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bossarrowstorageengine_spark.catalog import load_table
from bossarrowstorageengine_spark.functions.zorder import morton16 as _morton16
from bossarrowstorageengine_spark.operators.registry import query
from bossarrowstorageengine_spark.sources import register_arrowipc
from bossarrowstorageengine_spark.streaming.mv_maintain import (
    _append_ledger,
    _audit_ledger,
    _commit_deltas,
    _grain_head,
    _ledger_versions,
    _read_ledger,
    _rollup,
    _source_aggregate,
    _version_aggregates,
    apply_fanout_batch,
    seed_mv_fanout,
)

#: This process's scratch root, read at each ``_scratch`` call (a caller
#: may point it elsewhere).  The default is unique per process, so two
#: processes running the same key never delete each other's tables, and
#: it is removed when the process exits.
_SCRATCH_ROOT = os.path.join(tempfile.gettempdir(),
                             f"spark_graft_io-{os.getpid()}")


def _remove_scratch_root(root: str = _SCRATCH_ROOT,
                         owner: int = os.getpid()) -> None:
    if os.getpid() == owner:  # a forked child inherits the exit hook
        shutil.rmtree(root, ignore_errors=True)


atexit.register(_remove_scratch_root)


def _scratch(sf_dir: str, key: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(_SCRATCH_ROOT, tag, key)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _stamp_commit_times(path: str, stamps) -> None:
    """Pin the recorded commit time (``ts``) of the table's first
    versions to ``stamps``, so timestamp anchors resolve the same on
    every run; each manifest is replaced through the commit backend."""
    import json

    from bossarrowstorageengine_spark.sources.arrowipc import (
        _load_manifest_doc, _manifest_file, _manifest_versions,
        commit_backend)

    for v, ts in zip(_manifest_versions(path), stamps):
        doc = _load_manifest_doc(path, v)
        doc["ts"] = ts
        commit_backend().put(_manifest_file(path, v),
                             json.dumps(doc).encode())


@query(
    "q_scan_parquet",
    oracle="""
    SELECT count(*)                          AS n_rows,
           CAST(sum(l_orderkey) AS BIGINT)   AS sum_okey,
           round(sum(l_quantity), 2)         AS sum_qty,
           count(DISTINCT l_returnflag)      AS n_flags
    FROM lineitem
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + projection; Catalyst prunes the read schema to the
    4 referenced columns (ReadSchema in .explain)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("sum_okey"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )


@query(
    "q_scan_arrow_roundtrip",
    oracle="""
    SELECT l_returnflag,
           count(*)                  AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_scan_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: write lineitem to lz4-compressed Arrow IPC via the custom
    ``arrowipc`` data source, read it back, aggregate.  The oracle aggregates
    the original parquet — a hash match proves losslessness end-to-end.

    lz4 is the hot-path codec (measured 26% faster end-to-end than zstd at
    sf0.1 — 1.38 s vs 1.86 s median of 3 — while still compressing); zstd
    remains the default for cold/archival writes and is round-trip-tested
    per codec in tests/test_arrowipc.py.

    Only the aggregate's input columns travel through the round-trip:
    column pruning before the write is what a columnar storage engine is
    FOR (the JVM⇄Python Arrow exchange is the measured cost floor, and it
    scales with bytes moved, not rows).  Full-width fidelity — every
    column, timestamps included — is asserted separately by
    ``tests/test_arrowipc.py::test_roundtrip_identity_per_codec`` and the
    ``q_scan_arrow_stream`` round-trip of ``orders``."""
    register_arrowipc(spark)
    path = _scratch(sf_dir, "arrow_roundtrip")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity")
    # Parallelize the IPC write: one file per task. The source parquet is a
    # single split at small SF, which would serialize the whole write (and
    # the read-back) through one Python worker.  Read-side parallelism no
    # longer depends on file count (batch-range splits), so size the write
    # fan-out for writer throughput alone — fewer, bigger files win until
    # per-file work drops under the Python worker round-trip cost (measured
    # optimum at this SF: 4).  At 100 TB the upstream stage's own partition
    # count replaces this repartition entirely.
    n_files = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 8)
    li.repartition(n_files).write.format("arrowipc") \
        .option("compression", "lz4").mode("append").save(path)
    # Explicit read schema (= the written frame's, which the IPC round-trip
    # preserves exactly): skips the Python-datasource schema-inference
    # plan-worker round trip (~0.15-0.25 s of fixed floor — guide §1.2/§6;
    # same trick the changefeed chain has used since r9).  A mismatch
    # fails the read loudly via _validate_declared_schema.
    back = spark.read.format("arrowipc").schema(li.schema).load(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "q_scan_arrow_stream",
    oracle="""
    SELECT o_orderpriority,
           count(*)                        AS n_orders,
           round(sum(o_totalprice), 2)     AS sum_price,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_scan_arrow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC *stream* encoding round-trip with dictionary-encoded
    low-cardinality columns: write ``orders`` as footer-less sequential IPC
    (``ipcFormat=stream``) with ``o_orderstatus``/``o_orderpriority``
    dictionary-encoded on disk, read it back (readers sniff the encoding
    and decode dictionaries transparently), aggregate.  Oracle aggregates
    the original parquet, proving the second IPC encoding is lossless."""
    register_arrowipc(spark)
    path = _scratch(sf_dir, "arrow_stream")
    orders = load_table(spark, sf_dir, "orders")
    n_files = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 8)
    orders.repartition(n_files).write.format("arrowipc") \
        .option("compression", "zstd").option("ipcFormat", "stream") \
        .option("dictionary", "o_orderstatus,o_orderpriority") \
        .mode("append").save(path)
    # Explicit schema (= the written frame's; dictionary columns decode
    # back to plain strings): skips the inference round trip (r16).
    back = spark.read.format("arrowipc").schema(orders.schema).load(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@query(
    "q_arrowipc_partitioned",
    oracle="""
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(doc_id)  AS BIGINT) AS min_doc,
           CAST(max(doc_id)  AS BIGINT) AS max_doc
    FROM documents
    WHERE lang = 'en'
    GROUP BY lang
    """,
)
def q_arrowipc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned arrowipc layout: write ``documents`` into Hive-style
    ``lang=…`` subdirectories (``partitionBy`` write option), read ONE
    partition back through an equality filter — the reader prunes the
    other ``lang`` directories at planning time, before any file or
    sidecar is opened.  The oracle aggregates the original parquet, so a
    hash match proves the partitioned round-trip is lossless."""
    register_arrowipc(spark)
    path = _scratch(sf_dir, "arrowipc_partitioned")
    d = load_table(spark, sf_dir, "documents")
    d.repartition(2).write.format("arrowipc") \
        .option("compression", "zstd").option("partitionBy", "lang") \
        .mode("append").save(path)
    # Explicit schema (= the written frame's; partition columns are also
    # stored physically, so the composed read schema is identical —
    # verified empirically r16): skips the inference round trip.
    back = (spark.read.format("arrowipc").schema(d.schema).load(path)
            .filter(F.col("lang") == "en"))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@query(
    "q_scan_orc",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)          AS n_orders,
           round(sum(o_totalprice), 2)       AS sum_price,
           CAST(max(o_orderkey) AS BIGINT)   AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source (Spark-native columnar format, zlib-compressed by
    default).  The oracle aggregates the original parquet — a hash match
    proves the ORC round-trip is lossless (values, types, timestamps)."""
    path = _scratch(sf_dir, "orc")
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "q_scan_csv",
    oracle="""
    SELECT n_regionkey,
           count(*)              AS n_nations,
           min(n_name)           AS first_name
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with explicit schema (int/string columns only —
    timestamp text formats differ across engines, §8.6)."""
    path = _scratch(sf_dir, "csv")
    n = load_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ])
    back = spark.read.csv(path, schema=schema, header=True)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@query(
    "q_scan_json",
    oracle="""
    SELECT event_type,
           count(*)                        AS n_events,
           CAST(sum(user_id) AS BIGINT)    AS sum_users,
           round(sum(value), 2)            AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source with explicit schema (int/double/string
    columns; timestamps excluded per §8.6)."""
    path = _scratch(sf_dir, "json")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").json(path)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    back = spark.read.json(path, schema=schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned read: the filter on the
    partition column resolves to directory listing (PartitionFilters in
    .explain), reading only ``o_orderstatus=F/``."""
    path = _scratch(sf_dir, "partitioned")
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "q_sink_bucketed",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)    AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed sink + co-located join: both tables bucketed 8-ways on the
    join key at write time, so the join needs NO shuffle on either side
    (the plan-shape test asserts no Exchange feeds it).  This is the
    write-once-join-many layout for repeated fact⋈fact joins at 100 TB —
    the shuffle is paid once at ingest, not per query.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    tag = _scratch(sf_dir, "bucketed")  # cleans any previous layout
    for name, df, key in (("bkt_orders", o, "o_custkey"),
                          ("bkt_customer", c, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, key).sortBy(key)
         .option("path", f"{tag}/{name}")
         .mode("overwrite").saveAsTable(name))
    bo, bc = spark.table("bkt_orders"), spark.table("bkt_customer")
    joined = bo.join(bc, bo.o_custkey == bc.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "q_scan_text",
    oracle="""
    SELECT count(*)                          AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS sum_len,
           CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT)  AS content_checksum
    FROM documents
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text sink + source: one document per line via ``spark.read.text``
    (the corpus ingestion path for raw text dumps — document texts contain
    no newlines, so line ≡ document).  The oracle aggregates the original
    table; a lossless round-trip makes them equal.  The content checksum
    (sum of per-row md5-prefix values, order-insensitive and map-side
    combinable — no collect of row data anywhere) proves byte equality,
    not just counts — text files have no schema to lean on."""
    path = _scratch(sf_dir, "text")
    d = load_table(spark, sf_dir, "documents")
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("sum_len"),
        F.sum(
            F.conv(F.substring(F.md5(F.col("value").cast("binary")), 1, 15),
                   16, 10).cast("long") % 1000000007
        ).cast("long").alias("content_checksum"),
    )


def write_zorder_orders(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Write orders parquet clustered by the Morton interleave of
    (o_custkey, days-since-epoch of o_orderdate).

    Both dimensions are first normalized to 10-bit positions within their
    global [min, max] — interleaving raw values would let whichever
    dimension has more magnitude bits dominate the curve's high bits and
    destroy clustering on the other (the same reason Delta's ZORDER
    interleaves per-column range-partition ids, not raw values).  The
    min/max come from a 1-row aggregate broadcast to the mappers."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
    bounds = o.agg(
        F.min("o_custkey").alias("c_lo"), F.max("o_custkey").alias("c_hi"),
        F.min(day).alias("d_lo"), F.max(day).alias("d_hi"),
    )

    def _norm(col, lo, hi):
        width = F.col(hi) - F.col(lo) + 1
        return F.least(
            F.lit(1023), ((col - F.col(lo)) * 1024 / width).cast("int"))

    z = _morton16(
        _norm(F.col("o_custkey"), "c_lo", "c_hi"),
        _norm(F.col("_day"), "d_lo", "d_hi"),
    )
    (
        o.withColumn("_day", day)
        .join(F.broadcast(bounds))
        .withColumn("_z", z)
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_day", "c_lo", "c_hi", "d_lo", "d_hi")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "q_zorder_layout",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)       AS n_orders,
           round(sum(o_totalprice), 2)    AS sum_price,
           CAST(min(o_custkey) AS BIGINT) AS min_cust,
           CAST(max(o_custkey) AS BIGINT) AS max_cust
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 500
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered layout + 2-D pruned read — the
    Delta ``OPTIMIZE ZORDER BY`` idiom expressed as plain Spark.

    Interleaving the bits of (o_custkey, order-day) and range-partitioning
    + sorting on the interleave makes every output file a small rectangle
    in BOTH dimensions, so parquet min/max stats skip files/row-groups for
    customer-range AND date-range predicates alike (a single-column sort
    can only serve one of the two).  tests/test_zorder.py measures the
    layout: every file's span in each dimension is a fraction of the
    global span.

    Scale: the layout job is one range shuffle on the 64-bit code —
    at 100 TB you'd run it per ingest partition (the curve code is cheap,
    static JVM bit math), and the read path needs no new machinery: it is
    ordinary parquet stats skipping.  The oracle runs the same predicate
    on the ORIGINAL table, so a hash match also proves the rewrite
    lossless."""
    path = _scratch(sf_dir, "zorder")
    write_zorder_orders(spark, sf_dir, path)
    back = spark.read.parquet(path).filter(
        F.col("o_custkey").between(100, 500)
        & F.expr("o_orderdate >= TIMESTAMP '1996-01-01'")
        & F.expr("o_orderdate <  TIMESTAMP '1997-01-01'")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_custkey").cast("long").alias("min_cust"),
        F.max("o_custkey").cast("long").alias("max_cust"),
    )


@query(
    "q_arrowipc_snapshot",
    oracle="""
    SELECT 'v1' AS snapshot,
           CAST(count(*) AS BIGINT)     AS n_events,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           round(sum(value), 2)         AS sum_value
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'latest' AS snapshot,
           CAST(count(*) AS BIGINT)     AS n_events,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           round(sum(value), 2)         AS sum_value
    FROM events
    """,
)
def q_arrowipc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning (time travel) on the arrowipc source.

    Two committed writes publish manifest versions 1 and 2; reading
    ``version=1`` sees only the first write's rows while a
    latest-snapshot read sees both — the Delta/Iceberg transaction-log
    pattern at directory scale (src/arrowipc.py `_write_manifest`).  The
    oracle replays both faces on the original events table, so a hash
    match proves version-1 isolation AND the append's completeness.

    Scale: a manifest is one small JSON per commit listing visible part
    files — commit cost is O(files), reads plan from a single manifest
    read, and snapshot reads are immune to concurrent appenders (the
    in-flight files are simply not in the manifest yet)."""
    register_arrowipc(spark)
    path = _scratch(sf_dir, "snapshot")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 2 == 0)
    delta = ev.filter(F.col("event_id") % 2 == 1)
    for df in (base, delta):
        (df.write.format("arrowipc")
           .mode("append").save(path))

    def _agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").cast("long").alias("sum_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ).select(F.lit(tag).alias("snapshot"), "*")

    # Explicit schema (= the written frame's): skips the inference
    # plan-worker round trip per face read (r16).
    v1 = (spark.read.format("arrowipc").option("version", "1")
          .schema(ev.schema).load(path))
    latest = (spark.read.format("arrowipc")
              .schema(ev.schema).load(path))
    return _agg(v1, "v1").unionByName(_agg(latest, "latest"))


@query(
    "q_timetravel_asof",
    oracle="""
    SELECT 'between' AS face,
           CAST(count(*) AS BIGINT)     AS n_events,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           round(sum(value), 2)         AS sum_value
    FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT 'at' AS face,
           CAST(count(*) AS BIGINT)     AS n_events,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           round(sum(value), 2)         AS sum_value
    FROM events WHERE event_id % 3 IN (0, 1)
    UNION ALL
    SELECT 'beyond' AS face,
           CAST(count(*) AS BIGINT)     AS n_events,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           round(sum(value), 2)         AS sum_value
    FROM events
    """,
)
def q_timetravel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch time travel by TIMESTAMP (Delta's ``timestampAsOf``,
    r14 feature, r15 oracle face — the attested sibling of
    ``q_arrowipc_snapshot``'s version pinning).

    Three committed appends split events by ``event_id % 3``; the
    fixture then pins each manifest's recorded commit ``ts`` to exact
    anchors (1000/2000/3000 epoch seconds — back-to-back commits land
    milliseconds apart, so probing BETWEEN real wall-clock commits
    would be racy).  Reads resolve via the shared ``_version_as_of``
    run-max rule (sources/arrowipc.py): an anchor between commits
    ('between', 1500) sees only v1, an anchor exactly at a commit
    ('at', ISO-8601 form of 2000) sees v1+v2, and an anchor beyond the
    head ('beyond', 9999) sees everything.  The pre-first-commit error
    arm and the ts-dip (non-monotonic commit clock) arm are repo-tested
    (tests/test_round14_props.py).

    Scale: resolution is a manifest-metadata scan — O(versions) small
    JSON reads, no data file is opened to pick the version."""
    register_arrowipc(spark)
    path = _scratch(sf_dir, "timetravel_asof")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    for m in (0, 1, 2):
        (ev.filter(F.col("event_id") % 3 == m)
           .write.format("arrowipc")
           .option("compression", "lz4").mode("append").save(path))
    _stamp_commit_times(path, (1000.0, 2000.0, 3000.0))

    def _face(anchor: str, tag: str) -> DataFrame:
        df = (spark.read.format("arrowipc")
              .option("timestampAsOf", anchor)
              .option("columns", "event_id,user_id,value")
              .schema("event_id long, user_id long, value double")
              .load(path))
        return df.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").cast("long").alias("sum_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ).select(F.lit(tag).alias("face"), "*")

    return (_face("1500", "between")
            .unionByName(_face("1970-01-01T00:33:20+00:00", "at"))
            .unionByName(_face("9999", "beyond")))


@query(
    "q_storage_delete",
    oracle="""
    SELECT 'pre' AS face, lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT 'post' AS face, lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE NOT (lang = 'en' AND n_chars < 500)
    GROUP BY lang
    """,
)
def q_storage_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE (copy-on-write) on the arrowipc table format.

    Writes the documents table as a 4-part snapshotted arrowipc table,
    deletes short English docs via ``delete_arrowipc`` (one attributed
    scan finds affected part files, one job rewrites only those, one
    replace-manifest commit flips readers — sources/maintenance.py), then
    reads BOTH faces: version 1 (pre-delete, proving copy-on-write kept
    time travel intact) and the latest snapshot (post-delete).  The
    oracle replays both faces on the original table, so a hash match
    proves the delete removed exactly the predicate's rows and nothing
    else.

    Scale: the delete never reads unaffected files twice, never collects
    rows (only the affected file-name list), and commits through the same
    ConditionalPut CAS as every other manifest write."""
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    register_arrowipc(spark)
    path = _scratch(sf_dir, "delete")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    # lz4 on the scratch/mutation path: measured 26% faster than zstd for
    # write+read round-trips (see q_scan_arrow_roundtrip); durability-grade
    # compaction can still re-encode zstd later.
    (d.repartition(4).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))
    delete_arrowipc(spark, path, "lang = 'en' AND n_chars < 500",
                    compression="lz4",
                    predicate_columns=["lang", "n_chars"],
                    schema=d.schema)

    def _agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        ).select(F.lit(tag).alias("face"), "*")

    # Explicit read-side projection (no pruning hook in the Python
    # DataSource API): the faces aggregate lang/n_chars only.  The
    # explicit schema (selected columns in option order — the reader's
    # composition rule) skips the schema-inference plan-worker round
    # trip on each face read (r16 floor cut; see q_storage_changefeed).
    pruned = T.StructType([d.schema["lang"], d.schema["n_chars"]])
    pre = (spark.read.format("arrowipc").option("version", "1")
           .option("columns", "lang,n_chars").schema(pruned).load(path))
    post = (spark.read.format("arrowipc")
            .option("columns", "lang,n_chars").schema(pruned).load(path))
    return _agg(pre, "pre").unionByName(_agg(post, "post"))


@query(
    "q_storage_merge",
    oracle="""
    WITH src AS (
        SELECT doc_id, lang, source, n_chars + 1000 AS n_chars
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars
        FROM documents WHERE doc_id % 97 = 0
    ), merged AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM src WHERE doc_id < 1000000)
        UNION ALL
        SELECT doc_id, lang, source, n_chars FROM src
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT)  AS sum_ids
    FROM merged
    GROUP BY lang
    """,
)
def q_storage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE (upsert) on the arrowipc table format.

    Writes documents (sans text) as a snapshotted arrowipc table, then
    merges a source that UPDATES every 10th doc (n_chars + 1000) and
    INSERTS a shifted-key copy of every 97th — matched part files are
    rewritten copy-on-write, inserts land as new parts, all published in
    ONE replace-manifest commit (sources/maintenance.py merge_arrowipc).
    The oracle replays the upsert relationally (anti-join ∪ source), so a
    hash match proves matched rows took the source version, unmatched
    target rows survived, and inserts arrived exactly once."""
    from bossarrowstorageengine_spark.sources.maintenance import merge_arrowipc

    register_arrowipc(spark)
    path = _scratch(sf_dir, "merge")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    # lz4 on the scratch/mutation path (see q_storage_delete note).
    (d.repartition(4).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))

    updates = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000)
    inserts = d.filter(F.col("doc_id") % 97 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000)
    merge_arrowipc(spark, path, updates.unionByName(inserts), "doc_id",
                   compression="lz4", schema=d.schema)

    # Explicit read-side projection (no pruning hook in the Python
    # DataSource API): the post-merge face never needs ``source``.  The
    # explicit schema skips the inference plan-worker round trip (r16).
    latest = (spark.read.format("arrowipc")
              .option("columns", "doc_id,lang,n_chars")
              .schema(T.StructType([d.schema["doc_id"], d.schema["lang"],
                                    d.schema["n_chars"]]))
              .load(path))
    return latest.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@query(
    "q_scan_merge_schema",
    oracle="""
    WITH old AS (
        SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS source
        FROM documents WHERE doc_id % 2 = 0
    ),
    new AS (
        SELECT doc_id, CAST(NULL AS BIGINT) AS n_chars, source
        FROM documents WHERE doc_id % 2 = 1
    ),
    unioned AS (SELECT * FROM old UNION ALL SELECT * FROM new)
    SELECT CAST(count(*) AS BIGINT)            AS n_rows,
           CAST(count(n_chars) AS BIGINT)      AS n_with_chars,
           CAST(count(source) AS BIGINT)       AS n_with_source,
           CAST(sum(doc_id) AS BIGINT)         AS id_checksum,
           CAST(sum(n_chars) AS BIGINT)        AS sum_chars
    FROM unioned
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under the oracle gate: two arrowipc writes with
    DIFFERENT columns (an "old" file with ``n_chars``, a "new" file with
    ``source``) read back through ``mergeSchema=true`` — absent columns
    surface as nulls, present values survive exactly.  The oracle replays
    the union relationally, so the hash pins null placement AND values.

    Scale: the union schema is computed from per-file Arrow schemas
    (metadata-sized), and each task aligns its batches to it in Arrow —
    no rewrite of old files when columns are added, the Delta/Iceberg
    evolution rule at file granularity.
    """
    register_arrowipc(spark)
    path = _scratch(sf_dir, "merge_schema")
    d = load_table(spark, sf_dir, "documents")
    (d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
     .write.format("arrowipc").mode("append").save(path))
    (d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
     .write.format("arrowipc").mode("append").save(path))
    back = (spark.read.format("arrowipc")
            .option("mergeSchema", "true").load(path))
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("n_chars").cast("long").alias("n_with_chars"),
        F.count("source").cast("long").alias("n_with_source"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@query(
    "q_scan_dictionary",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def q_scan_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoded columns under the oracle gate: low-cardinality
    strings (``lang``, ``source``) write dictionary-encoded in the IPC
    stream format and decode transparently on read — the hash match
    against the original parquet proves the encode/decode round-trip is
    value-lossless.

    Scale: dictionary encoding shrinks low-cardinality string columns to
    index arrays (the classic columnar win); decoding happens per batch in
    Arrow, never row-at-a-time.
    """
    register_arrowipc(spark)
    path = _scratch(sf_dir, "dict_cols")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    (d.write.format("arrowipc")
     .option("ipcFormat", "stream")
     .option("dictionary", "lang,source")
     .mode("append").save(path))
    # Explicit schema (= the written frame's; dictionary columns decode
    # back to plain strings): skips the inference round trip (r16).
    back = spark.read.format("arrowipc").schema(d.schema).load(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@query(
    "q_scan_xml",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)              AS n_docs,
           CAST(sum(n_chars) AS BIGINT)          AS sum_chars,
           CAST(sum(length(text)) AS BIGINT)     AS text_len_checksum
    FROM documents
    GROUP BY lang
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4's built-in ``xml`` format —
    no external package): documents written as ``<doc>`` records, read
    back with ``rowTag`` and aggregated.  The oracle aggregates the
    ORIGINAL table, so the equality proves the round-trip is lossless
    (including the full text body, length-checksummed).

    Scale: the XML reader splits by record tag across files like any
    text-based source; schema is projected (only referenced elements are
    parsed per row).  XML is the interchange format of several archival
    corpora (Wikipedia dumps, PubMed) — this is the ingestion face.
    """
    path = _scratch(sf_dir, "xml")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text")
    (d.write.format("xml").option("rowTag", "doc")
     .mode("overwrite").save(path))
    back = spark.read.format("xml").option("rowTag", "doc").load(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("text_len_checksum"),
    )


@query(
    "q_storage_update",
    oracle="""
    SELECT 'pre' AS face, lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT)  AS id_checksum,
           CAST(0 AS BIGINT)            AS n_edited
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT 'post' AS face, lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(CASE WHEN source = 'src3' AND n_chars >= 500
                         THEN n_chars - 250 ELSE n_chars END) AS BIGINT)
                                        AS sum_chars,
           CAST(sum(doc_id) AS BIGINT)  AS id_checksum,
           CAST(sum(CASE WHEN source = 'src3' AND n_chars >= 500
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_edited
    FROM documents
    GROUP BY lang
    """,
)
def q_storage_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (copy-on-write) on the arrowipc table format.

    Writes documents as a 4-part snapshotted arrowipc table, then runs a
    multi-assignment ``update_arrowipc`` (sources/maintenance.py): rows
    matching ``source = 'src3' AND n_chars >= 500`` take
    ``n_chars = n_chars - 250`` AND ``source = concat(source, '_v2')``
    simultaneously — both expressions evaluate against the PRE-update row,
    standard SQL UPDATE semantics.  Only part files holding matching rows
    are rewritten; one replace-manifest commit flips readers.  Both faces
    are read back — version 1 (pre-update, time travel intact) and the
    latest snapshot — and the oracle replays them with CASE expressions,
    so the hash pins that exactly the predicate's rows changed, both
    assignments landed, and row counts / keys are untouched.

    Scale: identical CoW path as q_storage_delete — the attributed scan
    reads only predicate columns, the rewrite touches only affected files
    (repartition(K), not coalesce, so join parallelism stays independent
    of the output file count), and the manifest CAS commit is O(files)."""
    from bossarrowstorageengine_spark.sources.maintenance import update_arrowipc

    register_arrowipc(spark)
    path = _scratch(sf_dir, "update")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    # lz4 on the scratch/mutation path (see q_storage_delete note).
    (d.repartition(4).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))
    update_arrowipc(
        spark, path, "source = 'src3' AND n_chars >= 500",
        {"n_chars": "n_chars - 250", "source": "concat(source, '_v2')"},
        compression="lz4", predicate_columns=["source", "n_chars"],
        schema=d.schema)

    def _agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum(F.endswith(F.col("source"), F.lit("_v2")).cast("int"))
            .cast("long").alias("n_edited"),
        ).select(F.lit(tag).alias("face"), "*")

    # Explicit schema (= the written frame's) on both face reads: skips
    # the schema-inference plan-worker round trip per load (r16).
    pre = (spark.read.format("arrowipc").option("version", "1")
           .schema(d.schema).load(path))
    post = (spark.read.format("arrowipc")
            .schema(d.schema).load(path))
    return _agg(pre, "pre").unionByName(_agg(post, "post"))


_COMPACT_TARGET = 2  # target_files for q_storage_compact AND its met_target


@query(
    "q_storage_compact",
    oracle="""
    SELECT TRUE                               AS compacted_fewer_files,
           TRUE                               AS met_target,
           CAST(count(*) AS BIGINT)           AS rows_reported,
           CAST(count(*) AS BIGINT)           AS n_rows,
           CAST(sum(event_id) AS BIGINT)      AS id_checksum,
           CAST(sum(user_id) AS BIGINT)       AS user_checksum,
           round(sum(value), 2)               AS sum_value
    FROM events
    """,
)
def q_storage_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction on the arrowipc table format, under the
    oracle gate.

    Writes events as a deliberately-fragmented 16-part snapshotted table,
    compacts it to 2 part files (``compact_arrowipc``,
    sources/maintenance.py — one distributed scan, one distributed
    rewrite, one replace-manifest commit; the pre-compaction version stays
    time-travelable until vacuum), then re-reads the latest snapshot.  The
    output row carries the maintenance report as INVARIANT booleans
    (compacted_fewer_files = report.files_before > report.files_after,
    met_target = report.files_after <= target; both counts come from the
    actual manifests, never a literal — ADVICE r5: hardcoding 16/2 coupled
    the hash to "every round-robin partition non-empty" and "one file per
    task", which a smaller SF or writer file-rotation change would break
    for reasons unrelated to compaction) plus rows_reported (manifest +
    stats-sidecar metadata — the row count never costs a second scan) and
    full-data checksums; the oracle recomputes the data facts from the
    original events table, so the hash proves the rewrite is lossless AND
    the report is truthful.

    Scale: compaction is THE small-file defense at 100 TB (a streaming
    sink or per-task writer emits file counts proportional to tasks, and
    scan planning is O(files)); the rewrite reads each input file once,
    repartitions to the target file count, and swaps logically via one
    manifest commit so readers never see a half-compacted directory."""
    from bossarrowstorageengine_spark.sources.maintenance import compact_arrowipc

    register_arrowipc(spark)
    path = _scratch(sf_dir, "compact")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    (ev.repartition(16).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))
    res = compact_arrowipc(spark, path, target_files=_COMPACT_TARGET,
                           compression="lz4", schema=ev.schema)

    # Explicit schema (= the written frame's): skips the inference
    # plan-worker round trip (r16).
    back = (spark.read.format("arrowipc")
            .schema(ev.schema).load(path))
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("id_checksum"),
        F.sum("user_id").cast("long").alias("user_checksum"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        F.lit(res["files_before"] > res["files_after"])
        .alias("compacted_fewer_files"),
        F.lit(res["files_after"] <= _COMPACT_TARGET).alias("met_target"),
        F.lit(res["rows"]).cast("long").alias("rows_reported"),
        "*",
    )




#: The shared 3-version mutation scenario used by q_storage_timetravel_diff
#: and q_storage_changefeed (ONE definition so the two queries and their
#: oracles cannot drift): v1 = documents as written, v2 = UPDATE on short
#: German docs (n_chars*2 + 1 — the +1 guarantees every updated row really
#: differs, even at n_chars = 0), v3 = DELETE of short English docs.
_TTDIFF_UPDATE_PRED = "lang = 'de' AND n_chars < 800"
_TTDIFF_UPDATE_SET = {"n_chars": "n_chars * 2 + 1"}
_TTDIFF_DELETE_PRED = "lang = 'en' AND n_chars < 500"


def _write_mutation_history(spark: SparkSession, sf_dir: str,
                            path: str) -> None:
    """Build the shared 3-version history at ``path`` (see constants)."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        update_arrowipc,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    # lz4 on the scratch/mutation path (see q_storage_delete note).
    (d.repartition(4).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))
    # schema=d.schema: the table was just written from d, so each
    # mutation's internal full read skips its Python-datasource schema
    # inference (~0.2s/action of the changefeed/ttdiff fixed floor).
    update_arrowipc(spark, path, _TTDIFF_UPDATE_PRED, _TTDIFF_UPDATE_SET,
                    compression="lz4",
                    predicate_columns=["lang", "n_chars"],
                    schema=d.schema)
    delete_arrowipc(spark, path, _TTDIFF_DELETE_PRED, compression="lz4",
                    predicate_columns=["lang", "n_chars"],
                    schema=d.schema)


def _classify_version_diff(pre: DataFrame, post: DataFrame) -> DataFrame:
    """Keyed full-outer diff of two table versions → per-row change class
    + n_chars delta (the CDF classification both consumers share)."""
    j = pre.join(post, "doc_id", "full_outer")
    change = (
        F.when(F.col("chars_post").isNull(), F.lit("delete"))
        .when(F.col("chars_pre").isNull(), F.lit("insert"))
        .when(F.col("chars_pre") != F.col("chars_post"), F.lit("update"))
        .otherwise(F.lit("same"))
    )
    delta = (F.coalesce(F.col("chars_post"), F.lit(0))
             - F.coalesce(F.col("chars_pre"), F.lit(0)))
    return j.withColumn("change", change).withColumn("delta", delta)


#: Projected column set / schema both changefeed consumers read from the
#: mutation history, and the feed's own read-back schema.
_CF_HIST_SCHEMA = "doc_id long, lang string, n_chars long"
_CF_FEED_SCHEMA = "lang string, change string, delta long, commit_seq long"


def _mutation_snap(spark: SparkSession, src: str,
                   version: str | None) -> DataFrame:
    """One version snapshot of the mutation history at ``src`` — a
    3-column pruned scan with an explicit schema (no inference round
    trip).  Deliberately NOT cached (ADVICE r11): each snapshot is read
    at most twice, the scans are cheap, and a ``.cache()`` here both
    leaks blocks across a long session and — because the scratch path is
    identical across runs — silently serves a same-session rerun from
    the FIRST run's materialization after the directory was rmtree'd and
    rewritten."""
    r = (spark.read.format("arrowipc")
         .option("columns", "doc_id,lang,n_chars").schema(_CF_HIST_SCHEMA))
    if version:
        r = r.option("version", version)
    return r.load(src)


def _mutation_feed(spark: SparkSession, sf_dir: str,
                   base_dir: str) -> tuple[str, str]:
    """Build the shared changefeed fixture both the consumer and the MV
    maintainer start from: the 3-version mutation history at
    ``base_dir/src`` and its TWO logical feed commits — ``commit_seq``
    partition directories, batched into ONE write job (and therefore one
    feed manifest version, the round-11 floor cut) — at
    ``base_dir/feed``.  Returns ``(src, feed)``."""
    src = os.path.join(base_dir, "src")
    feed = os.path.join(base_dir, "feed")
    _write_mutation_history(spark, sf_dir, src)
    v1, v2, v3 = (_mutation_snap(spark, src, v) for v in ("1", "2", None))
    (_commit_changes(v1, v2, 1).unionByName(_commit_changes(v2, v3, 2))
     .write.format("arrowipc").option("partitionBy", "commit_seq")
     .option("compression", "lz4")
     .mode("append").save(feed))
    return src, feed


def _commit_changes(pre: DataFrame, post: DataFrame, seq: int) -> DataFrame:
    """One feed commit: the keyed diff of two history snapshots as
    change rows stamped with ``commit_seq``.  lang comes from WHICHEVER
    side has the row: an insert change has no pre-image, so a pre-only
    lang would write NULL and the insert would never join the consumer's
    per-lang state (this history has no inserts, but the consumer's
    insert arm must be real).  Module-level so the streaming MV
    maintainer's fixture can write one commit per manifest version."""
    return _classify_version_diff(
        pre.select("doc_id", F.col("lang").alias("lang_pre"),
                   F.col("n_chars").alias("chars_pre")),
        post.select("doc_id", F.col("lang").alias("lang_post"),
                    F.col("n_chars").alias("chars_post")),
    ).filter(F.col("change") != "same").select(
        "doc_id",
        F.coalesce("lang_pre", "lang_post").alias("lang"),
        "change", "delta",
        F.lit(seq).cast("long").alias("commit_seq"))


def _read_feed(spark: SparkSession, feed: str,
               seqs: list[int]) -> DataFrame:
    """The consumer-side feed scan: 4 columns, explicit schema, pruned
    to exactly the commit partitions being applied (``seqs`` — the same
    list the caller hands ``_commit_deltas``, so the filter and the
    per-commit aggregation can never drift apart)."""
    return (spark.read.format("arrowipc")
            .option("columns", "lang,change,delta,commit_seq")
            .schema(_CF_FEED_SCHEMA)
            .load(feed).filter(F.col("commit_seq").isin(*seqs)))


@query(
    "q_storage_timetravel_diff",
    oracle="""
    WITH classified AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' AND n_chars < 500 THEN 'delete'
                    WHEN lang = 'de' AND n_chars < 800 THEN 'update'
                    ELSE 'same' END AS change,
               CASE WHEN lang = 'en' AND n_chars < 500 THEN 0 - n_chars
                    WHEN lang = 'de' AND n_chars < 800 THEN n_chars + 1
                    ELSE 0 END AS delta
        FROM documents
    )
    SELECT change,
           CAST(count(*) AS BIGINT)    AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(delta) AS BIGINT)  AS chars_delta
    FROM classified
    GROUP BY change
    """,
)
def q_storage_timetravel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC-read between two time-travel versions.

    Builds a 3-version history on one arrowipc table: v1 = documents as
    written, v2 = UPDATE (de docs under 800 chars get
    ``n_chars*2 + 1`` — the +1 guarantees every updated row really
    differs, even at n_chars = 0), v3 = DELETE (short English docs).
    Then reads v1 and the latest snapshot via time travel and computes
    the change set with a keyed full-outer join on the primary key:
    post-side-null → delete, pre-side-null → insert, differing payload →
    update, else same — the Delta/Iceberg CDF pattern reconstructed from
    plain snapshots.  The oracle classifies the original table by the
    mutation predicates, so the hash pins exactly WHICH rows each
    mutation touched and the net character delta.

    Scale: the diff shuffles both versions once on the narrow join key
    (never exceptAll over full rows — wide-row hashing pushed to each
    side's scan would be the next step for very wide tables); change
    classification is map-side after the join."""
    register_arrowipc(spark)
    path = _scratch(sf_dir, "ttdiff")
    _write_mutation_history(spark, sf_dir, path)

    # The Python DataSource API (4.1) has no column-pruning hook, so
    # Catalyst cannot narrow the scan itself; the reader's ``columns``
    # option is the explicit projection — only 2 of 4 columns ever leave
    # the IPC files (the win that matters on a wide 100 TB table).
    # Explicit schemas (the history's column types are fixed by
    # _write_mutation_history) skip the Python-datasource inference
    # round-trip — one worker launch per .load() at the ~0.2s fixed
    # floor profiled in r8; the schema must list exactly the projected
    # ``columns`` in order.
    pre = (spark.read.format("arrowipc").option("version", "1")
           .option("columns", "doc_id,n_chars")
           .schema("doc_id long, n_chars long").load(path)
           .select("doc_id", F.col("n_chars").alias("chars_pre")))
    post = (spark.read.format("arrowipc")
            .option("columns", "doc_id,n_chars")
            .schema("doc_id long, n_chars long").load(path)
            .select("doc_id", F.col("n_chars").alias("chars_post")))
    return (
        _classify_version_diff(pre, post)
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("delta").cast("long").alias("chars_delta"),
        )
    )


@query(
    "q_storage_changefeed",
    oracle="""
    WITH classified AS (
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' AND n_chars < 500 THEN 'delete'
                    WHEN lang = 'de' AND n_chars < 800 THEN 'update'
                    ELSE 'same' END AS change,
               CASE WHEN lang = 'en' AND n_chars < 500 THEN 0 - n_chars
                    WHEN lang = 'de' AND n_chars < 800 THEN n_chars + 1
                    ELSE 0 END AS delta
        FROM documents
    )
    SELECT change, lang,
           CAST(count(*) AS BIGINT)    AS n_changes,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(delta) AS BIGINT)  AS chars_delta
    FROM classified
    WHERE change <> 'same'
    GROUP BY change, lang
    """,
)
def q_storage_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized CDC change feed (VERDICT r5 item 6) — the missing link
    between ``q_storage_timetravel_diff``'s snapshot diff and downstream
    incremental consumers (``q_incremental_agg``): the row-level change
    set is WRITTEN as its own arrowipc table and the query answers from
    the re-read feed, proving the feed round-trips through storage.

    Same 3-version history as the diff query (v1 = documents, v2 = UPDATE
    on short German docs, v3 = DELETE of short English docs); the keyed
    full-outer diff classifies rows, keeps CHANGES ONLY (a feed that
    re-ships unchanged rows isn't a change feed), and lands them in a
    snapshotted table PARTITIONED BY change type — so a consumer that
    only applies deletes prunes to the ``change=delete`` directory at
    planning time.  The re-read projects 4 of the feed's 6 columns via
    the reader's explicit ``columns`` option (the Python DataSource API
    has no pruning hook) and aggregates per (change, lang) — the exact
    shape an incremental aggregate maintainer consumes.  The oracle
    re-derives the feed from the mutation predicates on the original
    table, so the hash pins the feed's row-level content, not just its
    counts.

    Scale: the diff shuffles the two versions once on the narrow key; the
    feed write is one pass over changed rows only (at 100 TB the feed is
    mutation-sized, not corpus-sized); consumers read back only the
    partitions and columns they apply."""
    register_arrowipc(spark)
    base = _scratch(sf_dir, "changefeed")
    src = os.path.join(base, "src")
    feed = os.path.join(base, "feed")
    _write_mutation_history(spark, sf_dir, src)

    # Explicit schemas on every arrowipc read in this chain (pre, post,
    # and the feed read-back below) — the r8 storage-floor profile puts
    # Python-datasource schema inference at ~0.2s per .load(); the
    # history's and the feed's column types are statically known, so
    # none of the three needs the inference worker round-trip
    # (VERDICT r8 item 6, the same trick that cut MERGE by 29%).
    pre = (spark.read.format("arrowipc").option("version", "1")
           .option("columns", "doc_id,lang,n_chars")
           .schema("doc_id long, lang string, n_chars long").load(src)
           .select("doc_id", "lang", F.col("n_chars").alias("chars_pre")))
    post = (spark.read.format("arrowipc")
            .option("columns", "doc_id,n_chars")
            .schema("doc_id long, n_chars long").load(src)
            .select("doc_id", F.col("n_chars").alias("chars_post")))
    changes = _classify_version_diff(pre, post).filter(
        F.col("change") != "same")
    # This history produces no inserts, so the pre side always carries
    # lang; a general feed would coalesce both sides' payloads.
    (changes.write.format("arrowipc")
     .option("partitionBy", "change")
     .option("compression", "lz4")
     .mode("append").save(feed))

    back = (spark.read.format("arrowipc")
            .option("columns", "doc_id,lang,delta,change")
            .schema("doc_id long, lang string, delta long, change string")
            .load(feed))
    return back.groupBy("change", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_changes"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("delta").cast("long").alias("chars_delta"),
    )


@query(
    "q_changefeed_consume",
    oracle="""
    WITH base AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents GROUP BY lang
    ), upd AS (
        -- commit 1: the UPDATE's per-doc char delta is (2n+1) - n = n+1
        SELECT lang, sum(n_chars + 1) AS chars_delta
        FROM documents WHERE lang = 'de' AND n_chars < 800 GROUP BY lang
    ), del AS (
        -- commit 2: deleted docs are English, untouched by the German
        -- update, so their removed chars are the ORIGINAL n_chars
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'en' AND n_chars < 500 GROUP BY lang
    )
    SELECT b.lang,
           CAST(b.docs AS BIGINT)                       AS docs_base,
           CAST(b.chars AS BIGINT)                      AS chars_base,
           CAST(b.chars + coalesce(u.chars_delta, 0)
                AS BIGINT)                              AS chars_after_c1,
           CAST(b.docs - coalesce(d.docs, 0) AS BIGINT) AS docs_final,
           CAST(b.chars + coalesce(u.chars_delta, 0)
                - coalesce(d.chars, 0) AS BIGINT)       AS chars_final,
           TRUE                                         AS consistent
    FROM base b
    LEFT JOIN upd u ON u.lang = b.lang
    LEFT JOIN del d ON d.lang = b.lang
    """,
)
def q_changefeed_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CHANGEFEED CONSUMER — closes the CDC loop the feed
    producer (``q_storage_changefeed``) opened: the 3-version mutation
    history lands as TWO logical feed commits — ``commit_seq`` partition
    directories, batched into ONE write job (and therefore one feed
    manifest version) since round 11 — on one snapshotted feed table
    (commit 1 = the v1→v2 UPDATE's changes, commit 2 = the v2→v3
    DELETE's), and a downstream per-lang aggregate is maintained
    INCREMENTALLY — base state from the v1 snapshot, then each commit's
    rows applied as deltas, never rescanning the source.  The final
    column ``consistent`` is engine-verified: the incrementally
    maintained state must equal a direct aggregate of the latest source
    snapshot, per lang (the maintenance invariant every materialized
    view / incremental pipeline contract rests on).

    Feed layout: partitioned by ``commit_seq``, so a consumer prunes to
    exactly the commit directories it needs at planning time — the
    O(changes) consumption pattern that makes CDC cheaper than
    re-aggregation at 100 TB (the source is scanned once for the base;
    each refresh reads only mutation-sized feed partitions).

    Scale + local floor (VERDICT r10 item 2, ADVICE r11): the mutation
    history is applied FIRST, then both commits' diffs land in ONE feed
    write job (a union with per-diff ``commit_seq`` literals — same
    partition directories as two appends, one job instead of two), and
    the consumer reads the feed ONCE with per-commit conditional
    aggregation instead of one pruned scan per commit.  The version
    snapshots are deliberately UNcached: each is a pruned explicit-schema
    scan read at most twice, measured a wash locally, and the caches both
    leaked blocks across a long session and could serve a same-session
    rerun from the first run's materialization (identical plan over a
    rewritten scratch path).  Diffs shuffle on the narrow key (the producer's shape);
    the consumer side is feed-partition scans + per-lang aggregates +
    broadcast-sized join against the base state.  The oracle re-derives
    every intermediate state from the mutation predicates, so the hash
    pins the whole maintenance chain, not just the final counts."""
    register_arrowipc(spark)
    base_dir = _scratch(sf_dir, "cf_consume")
    src, feed = _mutation_feed(spark, sf_dir, base_dir)
    v1, v3 = _mutation_snap(spark, src, "1"), _mutation_snap(spark, src, None)

    # Consumer: base state once, then per-commit delta application from
    # ONE partition-pruned feed scan (conditional per-commit sums).
    base = v1.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("docs_base"),
        F.sum("n_chars").cast("long").alias("chars_base"))
    incs = _commit_deltas(_read_feed(spark, feed, [1, 2]), ["lang"],
                          [1, 2])
    state = base.join(incs, "lang", "left").na.fill(0)
    direct = v3.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("docs_direct"),
        F.sum("n_chars").cast("long").alias("chars_direct"))
    docs_final = (F.col("docs_base") + F.col("docs_delta_c1")
                  + F.col("docs_delta_c2"))
    chars_after_c1 = F.col("chars_base") + F.col("chars_delta_c1")
    chars_final = chars_after_c1 + F.col("chars_delta_c2")
    return (
        state.join(direct, "lang", "left").na.fill(0)
        .select(
            "lang", "docs_base", "chars_base",
            chars_after_c1.cast("long").alias("chars_after_c1"),
            docs_final.cast("long").alias("docs_final"),
            chars_final.cast("long").alias("chars_final"),
            ((docs_final == F.col("docs_direct"))
             & (chars_final == F.col("chars_direct")))
            .alias("consistent"),
        )
    )


@query(
    "q_mv_maintain",
    oracle="""
    WITH base AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents GROUP BY lang
    ), upd AS (
        -- commit 1: the UPDATE's per-doc char delta is (2n+1) - n = n+1
        SELECT lang, sum(n_chars + 1) AS chars_delta
        FROM documents WHERE lang = 'de' AND n_chars < 800 GROUP BY lang
    ), del AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'en' AND n_chars < 500 GROUP BY lang
    )
    SELECT CAST(1 AS BIGINT)     AS mv_version, lang,
           CAST(docs AS BIGINT)  AS docs,
           CAST(chars AS BIGINT) AS chars,
           TRUE                  AS consistent
    FROM base
    UNION ALL
    SELECT CAST(2 AS BIGINT), b.lang, CAST(b.docs AS BIGINT),
           CAST(b.chars + coalesce(u.chars_delta, 0) AS BIGINT), TRUE
    FROM base b LEFT JOIN upd u ON u.lang = b.lang
    UNION ALL
    SELECT CAST(3 AS BIGINT), b.lang,
           CAST(b.docs - coalesce(d.docs, 0) AS BIGINT),
           CAST(b.chars + coalesce(u.chars_delta, 0)
                - coalesce(d.chars, 0) AS BIGINT), TRUE
    FROM base b LEFT JOIN upd u ON u.lang = b.lang
                LEFT JOIN del d ON d.lang = b.lang
    """,
)
def q_mv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-VIEW maintenance over the real changefeed (SURVEY §7
    round-12 runway item 3, VERDICT r11 item 2): composes
    ``q_incremental_agg``'s merge discipline (partial states are
    algebraic — counts and sums add) with ``q_changefeed_consume``'s
    feed.  A persisted per-lang aggregate table is maintained through
    the feed's two commits — MV version 1 is the base aggregate of
    source v1, version k+1 is version k PLUS commit k's deltas read from
    the feed — so the MV's version history mirrors the source's, and NO
    MV state after the base ever rescans a source snapshot (only the
    audit arm does, see below).

    Persistence mirrors the feed's own floor cut: all three MV versions
    land in ONE ``mv_version``-partitioned write job (the r11 batched-
    commit pattern — same partition directories as three sequential
    appends, one job instead of three; VERDICT's "batch the writes or it
    inherits the changefeed floor").  The output is derived from the MV
    table READ BACK, so the oracle hash pins the persisted MV content,
    not the in-flight frames.

    Every version carries an engine-verified ``consistent`` flag — the
    read-back MV state must equal a direct aggregate of the SAME-version
    source snapshot, per lang (a stronger audit than the consumer's
    final-state check: the invariant holds at every point of the
    history; a lang whose docs hit zero must show 0/0, hence the
    coalesce on the direct side).

    Scale: refresh cost is O(|delta| + |MV|) per commit — the feed scan
    is mutation-sized and the MV is group-cardinality-sized, so at
    100 TB the refresh never touches the corpus; the verify arm is the
    periodic audit you'd sample in production, not the refresh path.
    The oracle re-derives every MV version from the mutation predicates,
    so the hash pins the whole maintenance chain."""
    register_arrowipc(spark)
    base_dir = _scratch(sf_dir, "mv_maintain")
    src, feed = _mutation_feed(spark, sf_dir, base_dir)
    mv_path = os.path.join(base_dir, "mv")

    base = _source_aggregate(_mutation_snap(spark, src, "1"), ["lang"])
    incs = _commit_deltas(_read_feed(spark, feed, [1, 2]), ["lang"],
                          [1, 2])
    _append_ledger(_ledger_versions(base, incs, ["lang"], [1, 2]), mv_path)

    direct = _version_aggregates(
        [_mutation_snap(spark, src, v) for v in ("1", "2", None)], ["lang"])
    return (_audit_ledger(_read_ledger(spark, mv_path, ["lang"]), direct,
                          ["lang"])
            .select("mv_version", "lang", "docs", "chars", "consistent"))


@query(
    "q_mv_fanout",
    oracle="""
    WITH base2 AS (
        SELECT lang, source, count(*) AS docs, sum(n_chars) AS chars
        FROM documents GROUP BY lang, source
    ), upd2 AS (
        SELECT lang, source, sum(n_chars + 1) AS cd
        FROM documents WHERE lang = 'de' AND n_chars < 800
        GROUP BY lang, source
    ), del2 AS (
        SELECT lang, source, count(*) AS dd, sum(n_chars) AS cd
        FROM documents WHERE lang = 'en' AND n_chars < 500
        GROUP BY lang, source
    ), v AS (
        SELECT 1 AS mv_version, lang, source, docs, chars FROM base2
        UNION ALL
        SELECT 2, b.lang, b.source, b.docs,
               b.chars + coalesce(u.cd, 0)
        FROM base2 b LEFT JOIN upd2 u USING (lang, source)
        UNION ALL
        SELECT 3, b.lang, b.source,
               b.docs - coalesce(d.dd, 0),
               b.chars + coalesce(u.cd, 0) - coalesce(d.cd, 0)
        FROM base2 b LEFT JOIN upd2 u USING (lang, source)
                     LEFT JOIN del2 d USING (lang, source)
    ), vl AS (
        SELECT mv_version, lang, sum(docs) AS docs, sum(chars) AS chars
        FROM v GROUP BY mv_version, lang
    )
    SELECT 'lang' AS grain, CAST(mv_version AS BIGINT) AS mv_version,
           lang, '*' AS source,
           CAST(docs AS BIGINT) AS docs, CAST(chars AS BIGINT) AS chars,
           TRUE AS consistent
    FROM vl
    UNION ALL
    SELECT 'lang_source', CAST(mv_version AS BIGINT), lang, source,
           CAST(docs AS BIGINT), CAST(chars AS BIGINT), TRUE
    FROM v
    """,
)
def q_mv_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-MV FANOUT (SURVEY §7 round-13 runway item 4): ONE feed scan
    maintains TWO materialized views at different grains — per-lang and
    per-(lang, source) — so the refresh cost is O(Δ + ΣMV) with the feed
    scan AMORTIZED across consumers (the production shape: one CDC
    stream, many downstream aggregates; scanning the feed once per MV
    multiplies the dominant cost by the consumer count for nothing).

    Mechanics: its own 3-version mutation history carrying ``source``
    (same predicates as the shared fixture), a feed whose change rows
    carry both grouping columns, ONE feed read localCheckpoint'd
    (mutation-sized), per-commit conditional sums computed ONCE at the
    FINE grain — the coarse grain's deltas are a rollup of the fine
    grain's, never a second feed pass — and two persisted ledgers (one
    ``mv_version``-partitioned write job each).  A group the delete
    empties stays in the MV at 0/0 (the ``q_mv_maintain`` rule: deletes
    zero a group, never drop it).  Every (grain, version) row is
    engine-verified against a direct aggregate of the SAME-version
    source snapshot (``consistent`` — fresh load per probe, FORMAT.md
    §8); the EXACT oracle replays both ledgers' full version history
    from the mutation predicates.

    Scale: deltas are mutation-sized, ledgers are group-cardinality-
    sized; the only corpus-sized passes are the v1 base aggregates and
    the audit arm.  Adding a third MV grain costs one more rollup of
    the shared fine-grain deltas — not another feed scan."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        update_arrowipc,
    )

    register_arrowipc(spark)
    base_dir = _scratch(sf_dir, "mv_fanout")
    src = os.path.join(base_dir, "src")
    feed = os.path.join(base_dir, "feed")
    mv_a = os.path.join(base_dir, "mv_lang")
    mv_b = os.path.join(base_dir, "mv_lang_source")

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    (d.repartition(2).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(src))
    update_arrowipc(spark, src, _TTDIFF_UPDATE_PRED, _TTDIFF_UPDATE_SET,
                    compression="lz4",
                    predicate_columns=["lang", "n_chars"], schema=d.schema)
    delete_arrowipc(spark, src, _TTDIFF_DELETE_PRED, compression="lz4",
                    predicate_columns=["lang", "n_chars"], schema=d.schema)

    hist_schema = ("doc_id long, lang string, source string, "
                   "n_chars long")

    def _snap(ver: str | None) -> DataFrame:
        r = (spark.read.format("arrowipc")
             .option("columns", "doc_id,lang,source,n_chars")
             .schema(hist_schema))
        if ver:
            r = r.option("version", ver)
        return r.load(src)

    def _commit(pre: DataFrame, post: DataFrame, seq: int) -> DataFrame:
        j = (pre.select("doc_id", F.col("lang").alias("lang_pre"),
                        F.col("source").alias("source_pre"),
                        F.col("n_chars").alias("chars_pre"))
             .join(post.select("doc_id", F.col("lang").alias("lang_post"),
                               F.col("source").alias("source_post"),
                               F.col("n_chars").alias("chars_post")),
                   "doc_id", "full_outer"))
        change = (
            F.when(F.col("chars_post").isNull(), F.lit("delete"))
            .when(F.col("chars_pre").isNull(), F.lit("insert"))
            .when(F.col("chars_pre") != F.col("chars_post"),
                  F.lit("update"))
            .otherwise(F.lit("same")))
        return (j.withColumn("change", change)
                .filter(F.col("change") != "same")
                .select(
                    "doc_id",
                    F.coalesce("lang_pre", "lang_post").alias("lang"),
                    F.coalesce("source_pre", "source_post").alias("source"),
                    (F.coalesce("chars_post", F.lit(0))
                     - F.coalesce("chars_pre", F.lit(0)))
                    .cast("long").alias("delta"),
                    "change",
                    F.lit(seq).cast("long").alias("commit_seq")))

    v1, v2, v3 = (_snap(v) for v in ("1", "2", None))
    (_commit(v1, v2, 1).unionByName(_commit(v2, v3, 2))
     .write.format("arrowipc").option("partitionBy", "commit_seq")
     .option("compression", "lz4")
     .mode("append").save(feed))

    # --- ONE feed scan, shared across both MV grains -------------------
    feed_rows = (spark.read.format("arrowipc")
                 .option("columns", "lang,source,change,delta,commit_seq")
                 .schema("lang string, source string, change string, "
                         "delta long, commit_seq long")
                 .load(feed).localCheckpoint())   # mutation-sized
    fine = ["lang", "source"]
    deltas_fine = _commit_deltas(feed_rows, fine, [1, 2])
    grains = ((mv_a, ["lang"], "lang"), (mv_b, fine, "lang_source"))
    for mv_path, keys, _grain in grains:
        # coarse grain = rollup of the FINE deltas — not a second feed pass
        deltas = deltas_fine if keys == fine else _rollup(deltas_fine, keys)
        _append_ledger(_ledger_versions(
            _source_aggregate(_snap("1"), keys), deltas, keys, [1, 2]),
            mv_path)

    # --- read back + per-version audit (fresh load per probe) ----------
    out = []
    for mv_path, keys, grain in grains:
        direct = _version_aggregates([_snap(v) for v in ("1", "2", None)],
                                     keys)
        out.append(
            _audit_ledger(_read_ledger(spark, mv_path, keys), direct, keys)
            .select(F.lit(grain).alias("grain"), "mv_version", "lang",
                    F.col("source") if "source" in keys
                    else F.lit("*").alias("source"),
                    "docs", "chars", "consistent"))
    return out[0].unionByName(out[1])


@query(
    "q_changefeed_evolve",
    oracle="""
    WITH c1 AS (
        SELECT doc_id, lang, n_chars + 1 AS delta,
               'update' AS change, 1 AS commit_seq,
               CAST(NULL AS VARCHAR) AS reason
        FROM documents WHERE lang = 'de' AND n_chars < 800
    ), c2 AS (
        SELECT doc_id, lang, 0 - n_chars AS delta,
               'delete' AS change, 2 AS commit_seq,
               'short_doc_purge' AS reason
        FROM documents WHERE lang = 'en' AND n_chars < 500
    ), feed AS (
        SELECT * FROM c1 UNION ALL SELECT * FROM c2
    )
    SELECT CAST(commit_seq AS BIGINT)       AS commit_seq,
           change,
           coalesce(reason, 'unspecified')  AS reason,
           lang,
           CAST(count(*) AS BIGINT)         AS n_rows,
           CAST(sum(doc_id) AS BIGINT)      AS id_checksum,
           CAST(sum(delta) AS BIGINT)       AS chars_delta
    FROM feed
    GROUP BY commit_seq, change, reason, lang
    """,
)
def q_changefeed_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed SCHEMA EVOLUTION (SURVEY §7 round-12 runway item 6,
    VERDICT r11 item 4): the producer evolved between commits — commit 1
    writes the original feed schema ``(doc_id, lang, delta, change,
    commit_seq)``, commit 2 adds a ``reason`` column annotating why rows
    changed — and the consumer reads the whole feed with the MERGED
    schema, filling per-commit defaults (``coalesce(reason,
    'unspecified')``) for pre-evolution commits: the
    ``q_scan_merge_schema``/``q_schema_drift`` pattern applied to a CDC
    feed, where schema drift is the NORM (producers upgrade while years
    of old commits stay on disk).

    The feed commits are derived relationally from the mutation
    predicates (the same update/delete the storage family applies) —
    this key's subject is the CONSUMER's evolution contract, so it
    skips the copy-on-write machinery and its fixed floor; the oracle
    replays the same derivation with a NULL-typed ``reason`` on the
    pre-evolution commit, so the hash pins that old rows surface the
    default and new rows their written value, per (commit, change,
    reason, lang) with exact checksums.

    The companion repo test (tests/test_round12_props.py) proves the
    OLD-schema consumer keeps working after evolution: an explicit
    pre-evolution column projection reads both commits — adding a
    column never strands a deployed reader.

    Scale: old files are never rewritten when the feed schema grows —
    the merged-schema read aligns each file's batches to the union
    schema in Arrow at scan time, so evolution is O(new commits), not
    O(history)."""
    register_arrowipc(spark)
    feed = _scratch(sf_dir, "cf_evolve")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    c1 = d.filter(_TTDIFF_UPDATE_PRED).select(
        "doc_id", "lang",
        (F.col("n_chars") + 1).cast("long").alias("delta"),
        F.lit("update").alias("change"),
        F.lit(1).cast("long").alias("commit_seq"))
    c2 = d.filter(_TTDIFF_DELETE_PRED).select(
        "doc_id", "lang",
        (-F.col("n_chars")).cast("long").alias("delta"),
        F.lit("delete").alias("change"),
        F.lit(2).cast("long").alias("commit_seq"),
        F.lit("short_doc_purge").alias("reason"))
    # two appends with DIFFERENT schemas — the evolution under test
    # (lz4 on the scratch path, per the _write_mutation_history note)
    (c1.write.format("arrowipc").option("compression", "lz4")
     .mode("append").save(feed))
    (c2.write.format("arrowipc").option("compression", "lz4")
     .mode("append").save(feed))

    back = (spark.read.format("arrowipc")
            .option("mergeSchema", "true").load(feed))
    return (
        back.groupBy(
            "commit_seq", "change",
            F.coalesce("reason", F.lit("unspecified")).alias("reason"),
            "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("delta").cast("long").alias("chars_delta"),
        )
    )


@query(
    "q_schema_drift",
    oracle="""
    WITH g AS (
        SELECT doc_id, n_chars, source, lang,
               CASE doc_id % 3 WHEN 0 THEN 'v1' WHEN 1 THEN 'v2'
                    ELSE 'v3' END AS generation
        FROM documents
    )
    SELECT generation,
           CAST(3 AS BIGINT)           AS n_schemas,
           CAST(count(*) AS BIGINT)    AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(coalesce(sum(CASE WHEN doc_id % 3 < 2 THEN n_chars END), 0)
                AS BIGINT)             AS sum_chars,
           CAST(sum(CASE WHEN doc_id % 3 >= 1 THEN 1 ELSE 0 END)
                AS BIGINT)             AS n_with_source,
           CAST(sum(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END)
                AS BIGINT)             AS n_with_lang
    FROM g
    GROUP BY generation
    """,
)
def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift census under the oracle gate (VERDICT r5 item 10):
    three write generations with DRIFTING schemas land in one table —
    v1 ``(doc_id, n_chars)``, v2 adds ``source``, v3 drops ``n_chars``
    and adds ``lang`` — then the ``schema_census_arrowipc`` report
    (sources/maintenance.py: footer-only metadata reads grouping visible
    files by exact Arrow schema) answers "how many distinct schemas live
    in this table?", and a ``mergeSchema`` read-back proves the DATA
    story: every generation's rows classified by their null pattern with
    exact checksums.

    The census count enters the output as a column (``n_schemas``), so
    the oracle hash fails if the metadata report ever disagrees with the
    three schemas actually written; per-generation facts are replayed
    relationally from the original table.  File COUNTS stay out of the
    output deliberately — they depend on writer partitioning/rotation,
    the coupling ADVICE r5 flagged on q_storage_compact.

    Scale: the census is O(files) footer reads (no data scan) — the
    migration-planning query ("which files are still on the old
    schema?") a column-add runs before deciding whether to rewrite; the
    mergeSchema read aligns each file's batches to the union schema in
    Arrow, so old files are never rewritten when columns are added."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        schema_census_arrowipc,
    )

    register_arrowipc(spark)
    path = _scratch(sf_dir, "schema_drift")
    d = load_table(spark, sf_dir, "documents")
    gen = F.col("doc_id") % 3
    (d.filter(gen == 0).select("doc_id", "n_chars")
     .write.format("arrowipc").mode("append").save(path))
    (d.filter(gen == 1).select("doc_id", "n_chars", "source")
     .write.format("arrowipc").mode("append").save(path))
    (d.filter(gen == 2).select("doc_id", "source", "lang")
     .write.format("arrowipc").mode("append").save(path))

    report = schema_census_arrowipc(path)
    back = (spark.read.format("arrowipc")
            .option("mergeSchema", "true").load(path))
    generation = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("v1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("v2"))
        .otherwise(F.lit("v3"))
    )
    return (
        back.withColumn("generation", generation)
        .groupBy("generation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long")
                .alias("sum_chars"),
            F.count("source").cast("long").alias("n_with_source"),
            F.count("lang").cast("long").alias("n_with_lang"),
        )
        .select("generation",
                F.lit(len(report)).cast("long").alias("n_schemas"),
                "n_rows", "id_checksum", "sum_chars",
                "n_with_source", "n_with_lang")
    )


@query(
    "q_storage_history",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version, 'full' AS kind,
           TRUE AS any_added, FALSE AS any_removed,
           CAST(count(*) AS BIGINT)    AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delta', TRUE, FALSE,
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'delta', TRUE, TRUE,
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
    FROM documents WHERE lang <> 'en'
    """,
)
def q_storage_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY`` under the oracle gate (SURVEY §7 runway): the
    manifest-log metadata report (``history_arrowipc`` — pure manifest
    reads, one entry per commit with its kind and add/remove deltas)
    CROSS-CHECKED against per-version time-travel row counts, so the hash
    pins that the log's story and the data's story agree at every
    version.

    History: v1 appends even-id documents (the initial commit publishes a
    self-contained 'full' checkpoint — there is no ancestor to delta
    against), v2 appends the odd half, v3
    row-level-deletes English docs (a CoW delta commit that both adds
    rewritten files and removes their predecessors).  Per version the
    output carries the commit kind and add/remove flags from METADATA
    (booleans, not file counts — counts depend on writer partitioning,
    the coupling ADVICE r5 flagged) and the row count + id checksum from
    a version-pinned DATA read; the oracle replays all three states
    relationally.

    Scale: the history report is O(versions) manifest reads with no data
    file opened; each audit face reads one manifest's file set.  This is
    the audit a production table runs after an incident: does every
    commit's claimed delta match what the data actually shows?"""
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        history_arrowipc,
    )

    register_arrowipc(spark)
    path = _scratch(sf_dir, "history")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    (d.filter(F.col("doc_id") % 2 == 0).repartition(2)
     .write.format("arrowipc")
     .option("compression", "lz4").mode("append").save(path))
    (d.filter(F.col("doc_id") % 2 == 1).repartition(2)
     .write.format("arrowipc")
     .option("compression", "lz4").mode("append").save(path))
    delete_arrowipc(spark, path, "lang = 'en'", compression="lz4",
                    predicate_columns=["lang"], schema=d.schema)

    faces = []
    # Pruned explicit schema per version read (r16 floor cut).
    id_only = T.StructType([d.schema["doc_id"]])
    for h in history_arrowipc(path):
        df = (spark.read.format("arrowipc")
              .option("version", str(h["version"]))
              .option("columns", "doc_id").schema(id_only).load(path))
        faces.append(df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        ).select(
            F.lit(h["version"]).cast("long").alias("version"),
            F.lit(h["kind"]).alias("kind"),
            F.lit(h["files_added"] > 0).alias("any_added"),
            F.lit(h["files_removed"] > 0).alias("any_removed"),
            "n_rows", "id_checksum",
        ))
    out = faces[0]
    for f in faces[1:]:
        out = out.unionByName(f)
    return out


@query(
    "q_storage_restore",
    oracle="""
    SELECT 'pre_restore' AS face, 'delta' AS kind,
           CAST(count(*) AS BIGINT)     AS n_rows,
           CAST(sum(doc_id) AS BIGINT)  AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang <> 'en'
    UNION ALL
    SELECT 'restored', 'full',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT)
    FROM documents
    """,
)
def q_storage_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RESTORE under the oracle gate: roll a mutated table back
    to its pre-mutation state by publishing the old version's file set as
    a NEW head commit (``restore_arrowipc`` — the Delta ``RESTORE TABLE
    ... TO VERSION`` / Iceberg rollback; history is preserved, so the
    mistaken state stays time-travelable for forensics until vacuum).

    History: v1 appends documents, v2 deletes English docs (the
    "mistake"), v3 = RESTORE to v1.  The query reads BOTH heads — the
    pre-restore head pinned at v2 (proving the rollback is a new commit,
    not history rewriting) and the restored latest (proving the head
    matches v1's full data exactly, rewritten files and all) — plus each
    face's commit kind from the history report (the restore publishes a
    self-contained 'full' replace manifest).  The oracle replays both
    states from the original table.

    Scale: RESTORE is a metadata-only commit — O(restored files) manifest
    write, no data movement; the validity check (restored files still on
    disk, i.e. not vacuumed) is an O(files) existence scan that fails
    BEFORE publishing."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        history_arrowipc,
        restore_arrowipc,
    )

    register_arrowipc(spark)
    path = _scratch(sf_dir, "restore")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    (d.repartition(2).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))
    delete_arrowipc(spark, path, "lang = 'en'", compression="lz4",
                    predicate_columns=["lang"], schema=d.schema)
    res = restore_arrowipc(path, version=1)
    kinds = {h["version"]: h["kind"] for h in history_arrowipc(path)}

    def _face(df: DataFrame, tag: str, kind: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        ).select(F.lit(tag).alias("face"), F.lit(kind).alias("kind"), "*")

    # Explicit schema (= the written frame's) on both face reads (r16).
    pre = (spark.read.format("arrowipc").option("version", "2")
           .schema(d.schema).load(path))
    restored = (spark.read.format("arrowipc")
                .schema(d.schema).load(path))
    return _face(pre, "pre_restore", kinds[2]).unionByName(
        _face(restored, "restored", kinds[res["version"]]))


@query(
    "q_storage_vacuum",
    oracle="""
    SELECT 'post_vacuum'                 AS face,
           TRUE                          AS any_reclaimed,
           TRUE                          AS disk_matches_manifest,
           CAST(count(*) AS BIGINT)      AS n_rows,
           CAST(sum(doc_id) AS BIGINT)   AS id_checksum,
           CAST(sum(n_chars) AS BIGINT)  AS sum_chars
    FROM documents WHERE lang <> 'en'
    """,
)
def q_storage_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM under the oracle gate — the missing face of the
    maintenance surface (compact/delete/update/merge/restore/history/
    changefeed are all keyed; vacuum was pytest-only): write a
    snapshotted table, DELETE (copy-on-write keeps the pre-image parts
    for time travel), then vacuum to ``keep_versions=1`` and prove three
    things at once — (a) storage was actually reclaimed
    (``any_reclaimed``: vacuum removed at least one part file),
    (b) the physical directory now matches the retained manifest exactly
    (``disk_matches_manifest``: no orphans left behind, no survivor
    deleted), and (c) the visible data is untouched (row count +
    checksums replay relationally in DuckDB as documents minus the
    deleted language).

    Flag columns are booleans, not file counts — counts depend on writer
    partitioning (the coupling ADVICE r5 flagged on the history key).

    Scale: vacuum is manifest arithmetic (set difference of retained vs
    dropped file lists) plus unlink syscalls — O(files), no data read,
    no Spark job; exactly the Delta VACUUM contract.  The verification
    read is one pruned column scan of the surviving snapshot."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _list_ipc_files,
        _manifest_versions,
        _read_manifest,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc,
        vacuum_arrowipc,
    )

    register_arrowipc(spark)
    path = _scratch(sf_dir, "vacuum")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    (d.repartition(2).write.format("arrowipc")
     .option("compression", "lz4")
     .mode("append").save(path))
    delete_arrowipc(spark, path, "lang = 'en'", compression="lz4",
                    predicate_columns=["lang"], schema=d.schema)
    info = vacuum_arrowipc(path, keep_versions=1)
    versions = _manifest_versions(path)
    visible = set(_read_manifest(path, versions[-1]))
    on_disk = set(_list_ipc_files(path))

    latest = (spark.read.format("arrowipc")
              .option("columns", "doc_id,n_chars")
              .schema(T.StructType([d.schema["doc_id"],
                                    d.schema["n_chars"]]))
              .load(path))
    return latest.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).select(
        F.lit("post_vacuum").alias("face"),
        F.lit(info["removed_files"] > 0).alias("any_reclaimed"),
        F.lit(on_disk == visible).alias("disk_matches_manifest"),
        "n_rows", "id_checksum", "sum_chars",
    )


#: Full on-disk row layout of the three-commit feed fixture (the write
#: below selects exactly these columns in this order; the partitioned
#: writer stores commit_seq physically, so this is also the read schema).
_THREE_COMMIT_FEED_SCHEMA = ("doc_id long, lang string, delta long, "
                             "change string, commit_seq long")


def _write_three_commit_feed(spark: SparkSession, sf_dir: str,
                             feed: str) -> None:
    """The shared feed fixture for the checkpoint-maintenance keys
    (``q_feed_compact``, ``q_feed_vacuum``): THREE relational feed
    commits written as three separate snapshotted appends — the
    small-commit accumulation that checkpoint compaction exists for.
    Commit 1 = the de-update's deltas, commit 2 = the en-delete's,
    commit 3 = the fr-delete's (all from the shared time-travel
    mutation predicates, so DuckDB replays the content exactly).
    The full on-disk row layout is ``_THREE_COMMIT_FEED_SCHEMA`` —
    callers hand it to ``compact_feed_thru(schema=...)`` so the
    rewrite's internal read skips inference."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    commits = [
        d.filter(_TTDIFF_UPDATE_PRED).select(
            "doc_id", "lang",
            (F.col("n_chars") + 1).cast("long").alias("delta"),
            F.lit("update").alias("change"),
            F.lit(1).cast("long").alias("commit_seq")),
        d.filter(_TTDIFF_DELETE_PRED).select(
            "doc_id", "lang",
            (-F.col("n_chars")).cast("long").alias("delta"),
            F.lit("delete").alias("change"),
            F.lit(2).cast("long").alias("commit_seq")),
        d.filter("lang = 'fr' AND n_chars < 300").select(
            "doc_id", "lang",
            (-F.col("n_chars")).cast("long").alias("delta"),
            F.lit("delete").alias("change"),
            F.lit(3).cast("long").alias("commit_seq")),
    ]
    for c in commits:  # three appends = the per-commit accumulation
        (c.repartition(3).write.format("arrowipc")
         .option("partitionBy", "commit_seq")
         .option("compression", "lz4")
         .mode("append").save(feed))


@query(
    "q_feed_compact",
    oracle="""
    WITH c1 AS (
        SELECT lang, sum(n_chars + 1) AS chars_delta
        FROM documents WHERE lang = 'de' AND n_chars < 800 GROUP BY lang
    ), c2 AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'en' AND n_chars < 500 GROUP BY lang
    ), c3 AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'fr' AND n_chars < 300 GROUP BY lang
    ), langs AS (
        SELECT DISTINCT lang FROM (
            SELECT lang FROM c1 UNION ALL SELECT lang FROM c2
            UNION ALL SELECT lang FROM c3
        )
    )
    SELECT l.lang,
           CAST(0 AS BIGINT)                          AS docs_delta_c1,
           CAST(coalesce(c1.chars_delta, 0) AS BIGINT) AS chars_delta_c1,
           CAST(0 - coalesce(c2.docs, 0) AS BIGINT)   AS docs_delta_c2,
           CAST(0 - coalesce(c2.chars, 0) AS BIGINT)  AS chars_delta_c2,
           CAST(0 - coalesce(c3.docs, 0) AS BIGINT)   AS docs_delta_c3,
           CAST(0 - coalesce(c3.chars, 0) AS BIGINT)  AS chars_delta_c3,
           TRUE                                       AS content_unchanged,
           TRUE                                       AS layout_collapsed
    FROM langs l
    LEFT JOIN c1 ON c1.lang = l.lang
    LEFT JOIN c2 ON c2.lang = l.lang
    LEFT JOIN c3 ON c3.lang = l.lang
    """,
)
def q_feed_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit FEED COMPACTION (SURVEY §7 round-13 runway item 3): a
    CDC feed accumulates one tiny ``commit_seq=k`` partition per source
    commit, and a from-scratch consumer pays listing + per-file task
    overhead PER COMMIT — at 100 TB with thousands of commits the
    bookkeeping dominates the change volume.  ``compact_feed_thru``
    (sources/feed_maintain.py) rewrites commits ``1..thru`` into ONE
    checkpoint part set under ``compacted_thru=<thru>/`` — commit_seq
    survives as a data column (the writer stores partition columns
    physically), rows are sorted by feed position so the checkpoint's
    min/max stats record the commit range it covers, commits beyond
    ``thru`` stay untouched, and the swap is a logical manifest commit
    (history stays time-travelable until vacuum).

    The fixture writes THREE relational feed commits as three separate
    appends (the small-commit accumulation compaction exists for):
    commit 1 = the de-update's deltas, commit 2 = the en-delete's,
    commit 3 = the fr-delete's.  Compaction runs thru=2 — behind the
    feed head, the production pattern (maintenance trails the producer).
    The consumer's per-commit conditional sums are computed BEFORE
    (materialized via localCheckpoint so the read really happens on the
    pre-compaction layout) and AFTER, and ``content_unchanged`` is their
    engine-verified equality — the compaction contract: consumers keep
    reading the same logical rows.  ``layout_collapsed`` asserts files
    actually dropped; raw file counts stay out of the output (they
    couple to writer partitioning — the ADVICE r5 rule).

    Scale: the rewrite is a Spark job over mutation-sized data (never
    the corpus); the swap is O(changed files) manifest arithmetic; a
    later compaction with larger ``thru`` re-absorbs earlier checkpoints,
    so the feed converges to one checkpoint + a short tail no matter how
    often maintenance runs.  The oracle re-derives every commit's deltas
    from the mutation predicates, so the hash pins the post-compaction
    feed content exactly."""
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )

    register_arrowipc(spark)
    feed = _scratch(sf_dir, "feed_compact")
    _write_three_commit_feed(spark, sf_dir, feed)

    seqs = [1, 2, 3]
    # Materialize the pre-compaction read NOW: a lazy frame would plan
    # against the post-compaction manifest and the equality check below
    # would be vacuous.  Group-cardinality-sized, so the checkpoint is
    # a handful of rows.
    pre = _commit_deltas(_read_feed(spark, feed, seqs), ["lang"],
                         seqs).localCheckpoint()
    # schema=: the fixture's full on-disk feed row layout, so the
    # rewrite's internal read skips schema inference (VERDICT r16 item
    # 3 — same §1.2 mechanism as the mutation-history reads).
    res = compact_feed_thru(spark, feed, thru=2,
                            schema=_THREE_COMMIT_FEED_SCHEMA)
    if res["compacted"] == 0:
        raise RuntimeError(
            "feed compaction found nothing in scope — the fixture wrote "
            "commit partitions 1..3, so thru=2 must rewrite commits 1-2")
    post = _commit_deltas(_read_feed(spark, feed, seqs), ["lang"], seqs)
    unchanged = (pre.exceptAll(post).count() == 0
                 and post.exceptAll(pre).count() == 0)
    return post.select(
        "lang",
        "docs_delta_c1", "chars_delta_c1",
        "docs_delta_c2", "chars_delta_c2",
        "docs_delta_c3", "chars_delta_c3",
        F.lit(unchanged).alias("content_unchanged"),
        F.lit(res["files_after"] < res["files_before"])
        .alias("layout_collapsed"),
    )


@query(
    "q_feed_vacuum",
    oracle="""
    WITH c1 AS (
        SELECT lang, sum(n_chars + 1) AS chars_delta
        FROM documents WHERE lang = 'de' AND n_chars < 800 GROUP BY lang
    ), c2 AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'en' AND n_chars < 500 GROUP BY lang
    ), c3 AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'fr' AND n_chars < 300 GROUP BY lang
    ), langs AS (
        SELECT DISTINCT lang FROM (
            SELECT lang FROM c1 UNION ALL SELECT lang FROM c2
            UNION ALL SELECT lang FROM c3
        )
    )
    SELECT l.lang,
           CAST(0 AS BIGINT)                          AS docs_delta_c1,
           CAST(coalesce(c1.chars_delta, 0) AS BIGINT) AS chars_delta_c1,
           CAST(0 - coalesce(c2.docs, 0) AS BIGINT)   AS docs_delta_c2,
           CAST(0 - coalesce(c2.chars, 0) AS BIGINT)  AS chars_delta_c2,
           CAST(0 - coalesce(c3.docs, 0) AS BIGINT)   AS docs_delta_c3,
           CAST(0 - coalesce(c3.chars, 0) AS BIGINT)  AS chars_delta_c3,
           TRUE                                       AS any_reclaimed,
           TRUE                                       AS disk_matches_manifest,
           TRUE                                       AS head_unchanged,
           TRUE                                       AS travel_fails_loudly
    FROM langs l
    LEFT JOIN c1 ON c1.lang = l.lang
    LEFT JOIN c2 ON c2.lang = l.lang
    LEFT JOIN c3 ON c3.lang = l.lang
    """,
)
def q_feed_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEED RETENTION VACUUM (SURVEY §7 round-13 runway item 2,
    promoting the r12 integration test to an oracle key): checkpoint
    compaction is a LOGICAL swap — the rewritten ``commit_seq=k``
    partitions stay on disk, referenced only by pre-compaction manifest
    versions, until retention vacuum physically reclaims them.  This key
    runs the full maintenance pipeline — three feed commits →
    ``compact_feed_thru(thru=2)`` → ``vacuum_arrowipc(keep_versions=1)``
    — and proves the vacuum contract on the feed in one output:

    - the per-commit deltas consumers read from the head are IDENTICAL
      before and after vacuum (``head_unchanged``: engine-verified
      equality against a pre-vacuum localCheckpoint; the row values
      themselves replay EXACTLY in DuckDB from the mutation predicates);
    - storage was actually reclaimed (``any_reclaimed``: the rewritten
      commit partitions' part files were unlinked);
    - the directory matches the retained manifest exactly
      (``disk_matches_manifest``: no orphans left, no survivor lost);
    - time travel to a reclaimed pre-compaction version fails LOUDLY
      (``travel_fails_loudly``) — never a silent wrong answer.

    Scale: vacuum is manifest arithmetic + unlink syscalls — O(files),
    no data read, no Spark job (the ``q_storage_vacuum`` argument); the
    feed variant matters because a 100 TB CDC feed compacts continuously,
    so un-vacuumed rewrite debris would grow without bound."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _list_ipc_files,
        _manifest_versions,
        _read_manifest,
    )
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        vacuum_arrowipc,
    )

    register_arrowipc(spark)
    feed = _scratch(sf_dir, "feed_vacuum")
    _write_three_commit_feed(spark, sf_dir, feed)        # v1..v3

    seqs = [1, 2, 3]
    res = compact_feed_thru(spark, feed, thru=2,         # v4: rewrite
                            schema=_THREE_COMMIT_FEED_SCHEMA)
    if res["compacted"] == 0:
        raise RuntimeError(
            "feed compaction found nothing in scope — the fixture wrote "
            "commit partitions 1..3, so thru=2 must rewrite commits 1-2")
    # Materialize the pre-vacuum consumer read NOW (lazy would plan
    # against the post-vacuum state and the equality would be vacuous).
    pre = _commit_deltas(_read_feed(spark, feed, seqs), ["lang"],
                         seqs).localCheckpoint()
    pre_versions = _manifest_versions(feed)

    info = vacuum_arrowipc(feed, keep_versions=1)

    post = _commit_deltas(_read_feed(spark, feed, seqs), ["lang"], seqs)
    unchanged = (pre.exceptAll(post).count() == 0
                 and post.exceptAll(pre).count() == 0)
    visible = set(_read_manifest(feed, _manifest_versions(feed)[-1]))
    no_orphans = set(_list_ipc_files(feed)) == visible
    reclaimed_version = pre_versions[0]   # oldest — dropped by retention
    try:
        (spark.read.format("arrowipc")
         .option("version", str(reclaimed_version))
         .schema(_CF_FEED_SCHEMA).load(feed).collect())
        travel_fails = False              # silent success = contract hole
    except Exception:
        travel_fails = True
    return post.select(
        "lang",
        "docs_delta_c1", "chars_delta_c1",
        "docs_delta_c2", "chars_delta_c2",
        "docs_delta_c3", "chars_delta_c3",
        F.lit(info["removed_files"] > 0).alias("any_reclaimed"),
        F.lit(no_orphans).alias("disk_matches_manifest"),
        F.lit(unchanged).alias("head_unchanged"),
        F.lit(travel_fails).alias("travel_fails_loudly"),
    )


@query(
    "q_mv_restore",
    oracle="""
    WITH base AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents GROUP BY lang
    ), upd AS (
        SELECT lang, sum(n_chars + 1) AS chars_delta
        FROM documents WHERE lang = 'de' AND n_chars < 800 GROUP BY lang
    ), del AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'en' AND n_chars < 500 GROUP BY lang
    )
    SELECT CAST(1 AS BIGINT)     AS mv_version,
           CAST(0 AS BIGINT)     AS src_commit, lang,
           CAST(docs AS BIGINT)  AS docs,
           CAST(chars AS BIGINT) AS chars,
           TRUE                  AS consistent
    FROM base
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), b.lang,
           CAST(b.docs AS BIGINT),
           CAST(b.chars + coalesce(u.chars_delta, 0) AS BIGINT), TRUE
    FROM base b LEFT JOIN upd u ON u.lang = b.lang
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(2 AS BIGINT), b.lang,
           CAST(b.docs - coalesce(d.docs, 0) AS BIGINT),
           CAST(b.chars + coalesce(u.chars_delta, 0)
                - coalesce(d.chars, 0) AS BIGINT), TRUE
    FROM base b LEFT JOIN upd u ON u.lang = b.lang
                LEFT JOIN del d ON d.lang = b.lang
    UNION ALL
    SELECT CAST(4 AS BIGINT), CAST(0 AS BIGINT), lang,
           CAST(docs AS BIGINT), CAST(chars AS BIGINT), TRUE
    FROM base
    """,
)
def q_mv_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV RESTORE ALIGNMENT (SURVEY §7 round-13 runway item 5) — the
    lineage-consistency story production MV systems need: the SOURCE
    table is rolled back (``restore_arrowipc`` to v1 — someone reverts a
    bad batch), and the MV maintainer must NOT keep serving an aggregate
    of a state that no longer exists.  The maintainer here (a) DETECTS
    the restore — the source history's head commit is a self-contained
    ``full`` replace while the feed has no commits beyond the MV
    ledger's high-water (an ordinary new commit would have shipped feed
    rows), and the MV head genuinely disagrees with the current source
    aggregate — then (b) finds WHICH persisted MV version matches the
    restored source state (relational audit: per-version equality counts
    against the current per-lang aggregate, group-cardinality-sized),
    and (c) rolls the MV back by publishing that version's content as a
    NEW MV version (``src_commit`` reset to the matched version's feed
    position) — history preserved on both tables, exactly like the
    source-side RESTORE itself.

    Both detection arms are ENFORCED (the r11 streaming-contract
    pattern): the query raises if the head is not a replace commit, if
    unconsumed feed commits exist (that is ordinary catch-up, not
    reconciliation), or if the MV head still matches (nothing to roll
    back) — a reconciler that silently no-ops would hide divergence.

    Scale: detection is O(manifest) metadata + ONE mv-side pass serving
    the ledger high-water, head version, per-version audit, and every
    candidate's feed position (never a corpus rescan; the current-source
    aggregate is checkpointed once and reused); the rollback write is
    MV-sized.  Local wall time is write-action-floor-dominated — the
    fixture's 3-version CoW history + feed + two MV writes are eight
    storage actions at the documented ~0.2-0.5s Python-datasource floor
    each, so growth across SFs is ~flat.  The oracle replays all four MV
    versions
    from the mutation predicates — v4 must equal v1's content with feed
    position 0 — and every version's ``consistent`` flag is
    engine-verified against its own-lineage source snapshot."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        history_arrowipc,
        restore_arrowipc,
    )

    register_arrowipc(spark)
    base_dir = _scratch(sf_dir, "mv_restore")
    src, feed = _mutation_feed(spark, sf_dir, base_dir)
    mv_path = os.path.join(base_dir, "mv")

    # Maintain the MV through both feed commits (q_mv_maintain's merge
    # discipline), versions stamped with the feed position they absorbed.
    base = _source_aggregate(_mutation_snap(spark, src, "1"), ["lang"])
    incs = _commit_deltas(_read_feed(spark, feed, [1, 2]), ["lang"],
                          [1, 2])
    _append_ledger(_ledger_versions(base, incs, ["lang"], [1, 2]), mv_path)

    # The mistake is reverted upstream: source rolls back to v1.
    restore_arrowipc(src, version=1)

    # -- (a) detect the restore (all three arms enforced) ----------------
    head_kind = history_arrowipc(src)[-1]["kind"]
    if head_kind != "full":
        raise RuntimeError(
            "mv_restore reconciler: source head is an ordinary delta "
            "commit — nothing was restored; refusing to roll back the MV")
    # Current source aggregate, materialized ONCE (group-cardinality
    # rows) — it feeds the audit and the row-count arm; an uncheckpointed
    # frame would rescan the source per action (the per-action Python-
    # datasource floor this key otherwise pays ~3× over).
    cur = _mutation_snap(spark, src, None).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("docs_cur"),
        F.sum("n_chars").cast("long").alias("chars_cur")).localCheckpoint()
    n_cur = cur.count()
    # ONE mv-side pass serves the ledger high-water, the head version,
    # the per-version audit, and every candidate's feed position (left
    # join keeps MV-only langs: an extra or missing lang on either side
    # breaks the n == n_eq == n_cur equality, so the match test is total).
    eq = (F.col("docs_cur").isNotNull()
          & (F.col("docs") == F.col("docs_cur"))
          & (F.col("chars") == F.col("chars_cur")))
    stats = {
        int(r["mv_version"]): (int(r["n"]), int(r["n_eq"]), int(r["pos"]))
        for r in (_read_ledger(spark, mv_path, ["lang"])
                  .join(cur, "lang", "left")
                  .groupBy("mv_version")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(eq.cast("long")).alias("n_eq"),
                       F.max("src_commit").alias("pos"))
                  .collect())
    }
    head_v = max(stats)
    thru = max(pos for _n, _e, pos in stats.values())
    # Whole-feed head position (NOT pruned to known commits — the check
    # must see a commit the ledger has never heard of).
    feed_head = int(
        spark.read.format("arrowipc")
        .option("columns", "commit_seq").schema("commit_seq long")
        .load(feed).agg(F.max("commit_seq")).collect()[0][0])
    if feed_head > thru:
        raise RuntimeError(
            f"mv_restore reconciler: feed has unconsumed commits "
            f"(> {thru}) — run ordinary catch-up, not reconciliation")
    if stats[head_v][0] == stats[head_v][1] == n_cur:
        raise RuntimeError(
            "mv_restore reconciler: MV head still matches the source — "
            "nothing to roll back")

    # -- (b) the newest version matching the restored state --------------
    matched = [v for v, (n, n_eq, _pos) in stats.items()
               if n == n_eq == n_cur]
    if not matched:
        raise RuntimeError(
            "mv_restore reconciler: no persisted MV version matches the "
            "restored source — the MV must be re-seeded from scratch")
    target = max(matched)

    # -- (c) roll back: publish the matched content as a NEW version -----
    rollback_pos = stats[target][2]
    _append_ledger(
        _read_ledger(spark, mv_path, ["lang"])
        .filter(F.col("mv_version") == target)
        .select("lang", "docs", "chars",
                F.lit(head_v + 1).cast("long").alias("mv_version"),
                F.lit(int(rollback_pos)).cast("long").alias("src_commit")),
        mv_path)

    # -- output: every MV version audited against its own lineage --------
    direct = _version_aggregates(
        [_mutation_snap(spark, src, v) for v in ("1", "2", "3", None)],
        ["lang"])
    return (_audit_ledger(_read_ledger(spark, mv_path, ["lang"]), direct,
                          ["lang"])
            .select("mv_version", "src_commit", "lang", "docs", "chars",
                    "consistent"))


@query(
    "q_feed_consumer_groups",
    oracle="""
    WITH base AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents GROUP BY lang
    ), upd AS (
        SELECT lang, sum(n_chars + 1) AS chars_delta
        FROM documents WHERE lang = 'de' AND n_chars < 800 GROUP BY lang
    ), del AS (
        SELECT lang, count(*) AS docs, sum(n_chars) AS chars
        FROM documents WHERE lang = 'en' AND n_chars < 500 GROUP BY lang
    ), v3 AS (
        SELECT b.lang,
               CAST(b.docs - coalesce(d.docs, 0) AS BIGINT)  AS docs,
               CAST(b.chars + coalesce(u.chars_delta, 0)
                    - coalesce(d.chars, 0) AS BIGINT)        AS chars
        FROM base b LEFT JOIN upd u ON u.lang = b.lang
                    LEFT JOIN del d ON d.lang = b.lang
    ), g AS (SELECT 'fast' AS grp UNION ALL SELECT 'slow')
    SELECT g.grp                 AS grp,
           v.lang, v.docs, v.chars,
           CAST(2 AS BIGINT)     AS position,
           CAST(2 AS BIGINT)     AS head,
           CAST(0 AS BIGINT)     AS lag,
           TRUE                  AS independent_positions,
           TRUE                  AS lag_report_correct,
           TRUE                  AS exactly_once_reapply,
           TRUE                  AS regression_guarded,
           TRUE                  AS seek_replay_converges
    FROM g CROSS JOIN v3 v
    """,
)
def q_feed_consumer_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGEFEED CONSUMER GROUPS (SURVEY §7 round-14 runway item 2e;
    VERDICT r13 next-round item 6): the Kafka consumer-group idiom over
    the arrowipc changefeed — two NAMED consumers tail the same feed
    with independent durable positions in a shared offsets table
    (``sources/feed_consume``: ``commit_position`` / ``seek`` /
    ``consume_next`` / ``consumer_lag``), each applying to its own
    per-lang MV ledger with exactly-once EFFECT (at-least-once delivery
    + the ledger's feed-position idempotence).

    The scenario, every arm engine-verified:

    - ``fast`` consumes both commits and commits position 2; ``slow``
      applies only commit 1 and commits position 1
      (``independent_positions``) — the lag report then reads fast=0,
      slow=1 against head 2 (``lag_report_correct``).
    - A re-consume for ``fast`` delivers ZERO rows (position pruning)
      and a forced full redelivery into its ledger publishes NO new MV
      version (``exactly_once_reapply`` — the crash window between
      apply and commit is exactly this path).
    - Committing a position BEHIND the committed one is refused loudly
      (``regression_guarded``) — rewinds must be audited ``seek`` rows.
    - ``slow`` catches up by an explicit ``seek(0)`` replay: commit 1
      re-applies as a no-op, commit 2 advances, and its head state
      equals ``fast``'s exactly (``seek_replay_converges``).

    Output = each group's FINAL ledger head (per-lang docs/chars — the
    EXACT oracle replays them from the mutation predicates) plus its
    final position/head/lag (2/2/0 for both) and the attested booleans.

    Scale: the offsets table is consumer-count-sized audit rows; every
    consume prunes the feed's ``commit_seq=`` partitions below the
    position before a file opens; applies are the MV maintainer's
    O(Δ + |MV|)."""
    from bossarrowstorageengine_spark.sources.feed_consume import (
        commit_position,
        committed_position,
        consume_next,
        consumer_lag,
        seek,
    )

    register_arrowipc(spark)
    base_dir = _scratch(sf_dir, "consumer_groups")
    src, feed = _mutation_feed(spark, sf_dir, base_dir)
    offsets = os.path.join(base_dir, "offsets")
    # each group's ledger: a one-grain fanout at per-lang grain
    mv = {g: [(os.path.join(base_dir, f"mv_{g}"), ["lang"])]
          for g in ("fast", "slow")}

    base_agg = _source_aggregate(_mutation_snap(spark, src, "1"), ["lang"])
    for g in ("fast", "slow"):
        seed_mv_fanout(mv[g], base_agg)
        seek(spark, offsets, g, 0)   # register both groups at 0

    cols = "lang,change,delta,commit_seq"

    # fast: consume everything → apply → commit head
    rows_f, _, head = consume_next(spark, feed, offsets, "fast", cols,
                                   _CF_FEED_SCHEMA)
    apply_fanout_batch(rows_f, 0, mv["fast"])
    commit_position(spark, offsets, "fast", head)

    # slow: a paused consumer — applies commit 1 only, commits position 1
    rows_s, _, _ = consume_next(spark, feed, offsets, "slow", cols,
                                _CF_FEED_SCHEMA)
    apply_fanout_batch(rows_s.filter(F.col("commit_seq") <= 1), 0,
                       mv["slow"])
    commit_position(spark, offsets, "slow", 1)

    lag_mid = {r.group: (r.position, r.head, r.lag)
               for r in consumer_lag(spark, feed, offsets).collect()}
    independent = (committed_position(spark, offsets, "fast") == head
                   and committed_position(spark, offsets, "slow") == 1)
    lag_ok = (lag_mid["fast"] == (head, head, 0)
              and lag_mid["slow"] == (1, head, head - 1))

    # exactly-once: a re-consume delivers nothing, and a forced full
    # redelivery into the ledger publishes no new MV version
    redeliver, _, _ = consume_next(spark, feed, offsets, "fast", cols,
                                   _CF_FEED_SCHEMA)
    _, ver_before, _ = _grain_head(spark, *mv["fast"][0])
    full = (spark.read.format("arrowipc")
            .option("columns", cols).schema(_CF_FEED_SCHEMA).load(feed))
    apply_fanout_batch(full, 99, mv["fast"])
    _, ver_after, _ = _grain_head(spark, *mv["fast"][0])
    exactly_once = (redeliver.count() == 0 and ver_after == ver_before)

    # position-regression guard: a stale commit is refused loudly
    try:
        commit_position(spark, offsets, "fast", 1)
        guarded = False
    except ValueError:
        guarded = True

    # slow catches up via an audited rewind-replay
    seek(spark, offsets, "slow", 0)
    rows_r, _, head_r = consume_next(spark, feed, offsets, "slow", cols,
                                     _CF_FEED_SCHEMA)
    apply_fanout_batch(rows_r, 1, mv["slow"])  # commit 1 no-op, 2 advances
    commit_position(spark, offsets, "slow", head_r)

    head_fast, _, _ = _grain_head(spark, *mv["fast"][0])
    head_slow, _, _ = _grain_head(spark, *mv["slow"][0])
    hf = head_fast.select("lang", "docs", "chars").localCheckpoint()
    hs = head_slow.select("lang", "docs", "chars").localCheckpoint()
    converged = (hf.exceptAll(hs).unionByName(hs.exceptAll(hf))
                 .count() == 0)

    # One collect of the consumer-count-sized report (re-filtering one
    # lag frame per group would hit the documented datasource
    # plan-cache hazard — FORMAT.md §8).
    lag_fin = {r.group: r for r in
               consumer_lag(spark, feed, offsets).collect()}
    out = None
    for g, state in (("fast", hf), ("slow", hs)):
        r = lag_fin[g]
        frame = state.select(
            F.lit(g).alias("grp"), "lang",
            F.col("docs").cast("long"),
            F.col("chars").cast("long"),
            F.lit(int(r.position)).cast("long").alias("position"),
            F.lit(int(r.head)).cast("long").alias("head"),
            F.lit(int(r.lag)).cast("long").alias("lag"))
        out = frame if out is None else out.unionByName(frame)
    return out.select(
        "*",
        F.lit(independent).alias("independent_positions"),
        F.lit(lag_ok).alias("lag_report_correct"),
        F.lit(exactly_once).alias("exactly_once_reapply"),
        F.lit(guarded).alias("regression_guarded"),
        F.lit(converged).alias("seek_replay_converges"),
    )


@query(
    "q_positions_asof",
    oracle="""
    SELECT face, grp,
           CAST(position AS BIGINT) AS position,
           CAST(seq AS BIGINT)      AS seq
    FROM (VALUES
        ('register', 'fast', 0, 1),
        ('mid',      'fast', 1, 3),
        ('mid',      'slow', 0, 2),
        ('head',     'fast', 2, 5),
        ('head',     'slow', 1, 4)
    ) AS t(face, grp, position, seq)
    """,
)
def q_positions_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSUMER-POSITION TIME TRAVEL, driver-attested (r16, VERDICT r15
    item 6): ``positions_asof`` (sources/feed_consume.py) answers
    "where was every consumer when the incident started?" from the
    offsets audit log alone — the offsets table is an ordinary arrowipc
    snapshot table, so a wall-clock anchor resolves through the SAME
    run-max ``timestampAsOf`` rule as ``q_timetravel_asof`` and the
    positions are that snapshot's last-wins rows.

    The fixture replays two groups' audited history — five serialized
    offsets commits (``seek(fast,0)``, ``seek(slow,0)``,
    ``commit(fast,1)``, ``commit(slow,1)``, ``commit(fast,2)`` — the
    seq-CAS assigns global seqs 1..5) — then pins each manifest's
    commit ``ts`` to exact anchors (1000..5000 epoch seconds, the
    ``q_timetravel_asof`` pattern: back-to-back commits land
    milliseconds apart, so probing between REAL timestamps would be
    racy).  Three anchor faces: 'register' (1500 — only fast exists,
    at 0), 'mid' (the ISO-8601 form of 3500 — fast committed 1, slow
    still registered at 0), 'head' (9999 — the final positions).  The
    pre-first-commit error arm and the feed linkage (these positions
    driving real deliveries) are attested by tests/test_round15_props
    and ``q_feed_consumer_groups``.

    Scale: entirely driver-side metadata — O(versions) manifest-stat
    reads to resolve each anchor plus consumer-count-sized audit rows;
    no Spark job touches data."""
    from bossarrowstorageengine_spark.sources.feed_consume import (
        commit_position, positions_asof, seek)

    register_arrowipc(spark)
    offsets = os.path.join(_scratch(sf_dir, "positions_asof"), "offsets")
    seek(spark, offsets, "fast", 0)          # v1, seq 1
    seek(spark, offsets, "slow", 0)          # v2, seq 2
    commit_position(spark, offsets, "fast", 1)   # v3, seq 3
    commit_position(spark, offsets, "slow", 1)   # v4, seq 4
    commit_position(spark, offsets, "fast", 2)   # v5, seq 5
    _stamp_commit_times(offsets, (1000.0, 2000.0, 3000.0, 4000.0, 5000.0))

    def _face(anchor: str, tag: str) -> DataFrame:
        return positions_asof(spark, offsets, anchor).select(
            F.lit(tag).alias("face"), F.col("group").alias("grp"),
            "position", "seq")

    return (_face("1500", "register")
            .unionByName(_face("1970-01-01T00:58:20+00:00", "mid"))
            .unionByName(_face("9999", "head")))
