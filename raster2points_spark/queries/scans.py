"""§2.1 scans / sources / sinks.

The reference's whole purpose is a scan→transform→CSV pipeline
(raster2points/raster2points.py::raster2csv); here sources and sinks
are Spark readers/writers so column pruning + predicate pushdown
reach the parquet scan (verify with .explain: PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster2points_spark.io import write_csv, write_parquet
from raster2points_spark.registry import register
from raster2points_spark.queries._util import SCRATCH, t


@register(
    "scan_parquet",
    oracle="""
    SELECT count(*) AS n_rows, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_quantity > 45
    """,
)
def scan_parquet(spark, sf_dir):
    """Parquet scan with filter+projection pushdown: the scan should
    read only (l_quantity, l_extendedprice) and push l_quantity > 45
    into the parquet reader (row-group stats pruning at scale)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@register(
    "gen_range",
    oracle="""
    SELECT range % 7 AS bucket, count(*) AS n, cast(sum(range) AS bigint) AS s
    FROM range(0, 100000) GROUP BY 1
    """,
)
def gen_range(spark, sf_dir):
    """In-memory generator — spark.range is a parallel, partitioned
    source (no driver-side materialization)."""
    return (
        spark.range(0, 100000)
        .groupBy((F.col("id") % 7).alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )


@register(
    "scan_csv_roundtrip",
    oracle="""
    SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem WHERE l_quantity <= 10
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """CSV sink + scan with a non-default separator — the reference
    CLI contract (::raster2csv supports ,/;/tab).  Schema is supplied
    on re-read (never inferred: at 100 TB inference is a full extra
    pass).  The oracle aggregates the SOURCE rows directly: matching
    proves the CSV roundtrip is lossless for long/int/double (Spark
    prints doubles at full precision, so re-read values are
    bit-identical)."""
    path = os.path.join(SCRATCH, "csv_roundtrip")
    pts = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    write_csv(pts, path, sep=";")
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("sep", ";").option("header", "true").csv(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "sink_parquet",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders WHERE o_totalprice > 200000
    GROUP BY 1
    """,
)
def sink_parquet(spark, sf_dir):
    """Parquet sink → re-read → aggregate.  Each task writes its own
    file; at scale you'd partitionBy a low-cardinality column.  The
    oracle aggregates the source directly — matching proves the sink
    is lossless (same pattern as sink_partitioned)."""
    path = os.path.join(SCRATCH, "sink_parquet")
    sel = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    write_parquet(sel, path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "sink_partitioned",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY 1, 2
    """,
)
def sink_partitioned(spark, sf_dir):
    """Hive-style partitioned parquet sink + partition-pruned re-read.

    The 100 TB layout story: partitionBy on the filter column means the
    re-read scans ONLY the l_returnflag=R directory (partition pruning,
    visible as PartitionFilters in explain), not the full dataset.  The
    aggregate after the roundtrip must equal the direct oracle — proving
    the sink is lossless.
    """
    path = os.path.join(SCRATCH, "sink_partitioned")
    t(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy("l_returnflag").parquet(
        path
    )
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "scan_json_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def scan_json_roundtrip(spark, sf_dir):
    """JSON-lines sink + schema'd re-read (source-format coverage beyond
    the reference's CSV).  Comparing the post-roundtrip aggregate to the
    direct-parquet oracle proves string/int fidelity through JSON."""
    path = os.path.join(SCRATCH, "json_roundtrip")
    t(spark, sf_dir, "documents").write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "scan_orc_roundtrip",
    oracle="""
    SELECT n_nationkey, upper(n_name) AS name_u, n_regionkey
    FROM nation
    """,
)
def scan_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan (Spark's second first-class columnar format).

    ORC is lossless for every type here, so the roundtrip result must
    equal the same projection straight off parquet — which is exactly
    what the oracle states (DuckDB never touches ORC; the CHECK is
    roundtrip fidelity).  Schema comes from the file's own footer, no
    inference pass.
    """
    path = os.path.join(SCRATCH, "orc_roundtrip")
    t(spark, sf_dir, "nation").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.select(
        "n_nationkey",
        F.upper("n_name").alias("name_u"),
        "n_regionkey",
    )


@register(
    "sink_sorted",
    oracle="""
    SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'
    """,
)
def sink_sorted(spark, sf_dir):
    """Sort-clustered parquet layout: sortWithinPartitions(l_shipdate)
    before the write gives every output file tight min/max l_shipdate
    row-group statistics, so the range-filtered re-read skips whole row
    groups at the reader level (the poor man's Z-order for a single
    sort key — THE layout move for time-range-heavy workloads at
    100 TB).  No extra shuffle: the sort is within existing partitions.
    The oracle aggregates the source directly — the roundtrip must be
    lossless on top of being skippable."""
    path = os.path.join(SCRATCH, "sink_sorted")
    t(spark, sf_dir, "lineitem").sortWithinPartitions("l_shipdate").write.mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("l_shipdate").between("1995-01-01", "1995-12-31")
    )
    return back.agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "sink_compact",
    oracle="""
    SELECT l_returnflag, count(*) AS n, cast(sum(l_orderkey) AS bigint) AS sum_key
    FROM lineitem GROUP BY 1
    """,
)
def sink_compact(spark, sf_dir):
    """Small-files compaction — THE table-maintenance job at 100 TB:
    streaming/CDC sinks leave thousands of KB-sized files per
    partition, and every downstream scan then pays one task + one
    footer read per file.  The job rewrites a fragmented layout into
    ~target-sized files: read, coalesce to ceil(bytes/target) output
    partitions (coalesce, NOT repartition — compaction must not pay a
    full shuffle), write back.  Fragmentation is simulated by first
    writing the table as 64 shards; the oracle aggregates the source
    directly, proving the compacted copy is lossless.  The file-count
    collapse itself is asserted in tests/test_contract.py.
    """
    frag = os.path.join(SCRATCH, "compact_fragmented")
    compacted = os.path.join(SCRATCH, "compact_out")
    li = t(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    back = spark.read.parquet(frag)
    size = sum(
        f.stat().st_size for f in os.scandir(frag) if f.name.endswith(".parquet")
    )
    target = 128 << 20  # 128 MB files — row-group-friendly at scale
    n_out = max(1, -(-size // target))
    back.coalesce(n_out).write.mode("overwrite").parquet(compacted)
    out = spark.read.parquet(compacted)
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum("l_orderkey").cast("bigint").alias("sum_key")
    )


# 16-bit × 16-bit Morton (Z-order) interleave — engine-twin VALUES.
# Spark side (r15): the classic magic-number bit spread — 4 shift/mask
# steps per operand, pure codegen bitwise arithmetic.  The r14 form was
# a 16-step aggregate(sequence(0,15)) higher-order fold, which
# allocates the sequence array and evaluates two lambdas per element
# PER ROW: measured 10x slower (1.65 s vs 0.16 s per sf0.1 pass), and
# the range-partitioner's sampling pass pays it a second time.  The
# spread places each input bit at a DISJOINT output position, so OR
# equals the fold's + and the bigint value is identical bit-for-bit
# (exhaustively equal over all sf0.1 rows; property-pinned in
# tests/test_properties.py).  DuckDB keeps the explicit per-bit fold —
# the hash check pins the Morton math across the two formulations.


def _z_spread(col: str) -> str:
    s = f"cast({col} as bigint)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s = f"(({s} | shiftleft({s}, {shift})) & {mask})"
    return s


_Z_SPARK = f"({_z_spread('a')} | shiftleft({_z_spread('b')}, 1))"
_Z_DUCK = (
    "list_aggregate(list_transform(range(0, 16), i -> "
    "(((a >> i) & 1) << (2*i)) + (((b >> i) & 1) << (2*i + 1))), 'sum')"
)


@register(
    "sink_zorder",
    oracle=f"""
    WITH keyed AS (
        SELECT l_orderkey, l_partkey % 65536 AS a, l_suppkey % 65536 AS b,
               l_extendedprice
        FROM lineitem
    ),
    z AS (SELECT l_orderkey, a, b, {_Z_DUCK} AS zkey, l_extendedprice FROM keyed)
    SELECT count(*) AS n, cast(sum(zkey) AS bigint) AS sum_z,
           cast(min(zkey) AS bigint) AS min_z, cast(max(zkey) AS bigint) AS max_z,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM z WHERE a < 1024 AND b < 1024
    """,
)
def sink_zorder(spark, sf_dir):
    """Z-order (Morton-curve) clustering — the multi-dimension layout
    move (Delta OPTIMIZE ZORDER BY, Iceberg sort orders): interleave
    the bits of two filter columns into one sort key so rows close in
    (partkey, suppkey) space land in the same files, giving row-group
    min/max skipping on BOTH dimensions at once (a single-column sort
    — sink_sorted — only skips on its one key).

    The z-key is pure bit arithmetic (magic-number bit spread, JVM
    codegen; the DuckDB twin states the per-bit fold — same bigint
    value by disjoint-bit construction, so the hash check pins the
    Morton math exactly).  Layout: repartitionByRange +
    sortWithinPartitions on zkey — the range shuffle is the one cost
    compaction-style maintenance pays for clustered layout.  The
    re-read aggregates a 2-D box (a,b < 1024 ⇒ zkey < 2^20 under
    interleaving, which is what makes the skip work) and must match
    the source-side oracle — losslessness + formula parity in one
    check.
    """
    path = os.path.join(SCRATCH, "sink_zorder")
    keyed = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_partkey") % 65536).alias("a"),
        (F.col("l_suppkey") % 65536).alias("b"),
        "l_extendedprice",
    )
    z = keyed.withColumn("zkey", F.expr(_Z_SPARK))
    (
        z.repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter((F.col("a") < 1024) & (F.col("b") < 1024))
    return back.agg(
        F.count("*").alias("n"),
        F.sum("zkey").cast("bigint").alias("sum_z"),
        F.min("zkey").cast("bigint").alias("min_z"),
        F.max("zkey").cast("bigint").alias("max_z"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "join_dpp",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m
      FROM orders WHERE extract(year FROM o_orderdate) = 1995
    )
    SELECT f.ship_month, count(*) AS n, round(sum(f.l_extendedprice), 2) AS sum_price
    FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_extendedprice
          FROM lineitem) f
    JOIN dim ON f.ship_month = dim.m
    GROUP BY 1
    """,
)
def join_dpp(spark, sf_dir):
    """Dynamic partition pruning: fact table laid out partitioned by
    ship month, joined to a runtime-filtered dim — Spark injects the
    dim's surviving keys as a partition filter into the fact SCAN
    (``dynamicpruningexpression`` in the plan), so only the matching
    month directories are read.

    This is THE layout feature for 100 TB fact tables: static pruning
    handles literal predicates, DPP handles join-derived ones — the
    scan cost becomes proportional to the dim selectivity, not the
    fact size.  Plan-pinned in tests/test_plans.py.

    The partitioned layout is a FIXTURE, paid once per corpus: cached
    on (source path, mtime, size) like the stream-slice cache, so
    repeated invocations in a gate/bench session read instead of
    rewriting, and a regenerated corpus still invalidates it.
    """
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, "lineitem.parquet")
    st = os.stat(src)
    digest = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_mtime}:{st.st_size}:dpp1".encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"r2p_dpp_fact_{digest}")
    if not os.path.isdir(path):
        import shutil

        tmp = f"{path}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        # cluster on the partition column before the write: one file per
        # month directory instead of |tasks|x|months| small files — the
        # standard partitioned-layout hygiene at any scale
        t(spark, sf_dir, "lineitem").select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"), "l_extendedprice"
        ).repartition(F.col("ship_month")).write.mode("overwrite").partitionBy(
            "ship_month"
        ).parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent builder won the rename; content is identical
            shutil.rmtree(tmp, ignore_errors=True)
    fact = spark.read.parquet(path)
    dim = (
        t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.ship_month == dim.m)
        .groupBy("ship_month")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
    )


@register(
    "scan_pysource",
    oracle="""
    WITH t(i) AS (SELECT unnest(generate_series(0, 9))),
    cells AS (
      SELECT a.i AS col, b.i AS row,
             round(sin(a.i * 1.7 + b.i * 0.3) * 100, 6) AS value
      FROM t a CROSS JOIN t b
    )
    SELECT col, row, value FROM cells WHERE value > 0
    """,
)
def scan_pysource(spark, sf_dir):
    """Custom Python data source (Spark 4 DataSource API) — the
    extension seam a native GeoTIFF/COG reader would plug into: the
    source declares its schema and
    PARTITIONS (one per tile row here), executors pull each partition
    independently — distributed ingest without a JVM connector.

    The generated cells are a pure deterministic function of (col,
    row), so the DuckDB twin regenerates them exactly — proving the
    source delivers every partition exactly once.  Filters compose on
    top like any scan (the value > 0 predicate runs in Spark's plan).
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class GridReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(r) for r in range(10)]

        def read(self, partition):
            import math

            r = partition.value
            for c in range(10):
                yield (c, r, round(math.sin(c * 1.7 + r * 0.3) * 100, 6))

    class GridSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_grid"

        def schema(self):
            return "col int, row int, value double"

        def reader(self, schema):
            return GridReader()

    spark.dataSource.register(GridSource)
    return spark.read.format("synthetic_grid").load().filter(F.col("value") > 0)


@register(
    "scan_text_lines",
    oracle="""
    SELECT lang, count(*) AS n_lines,
           cast(sum(length(text)) AS bigint) AS total_len
    FROM documents GROUP BY lang
    """,
)
def scan_text_lines(spark, sf_dir):
    """Raw text-lines source (``spark.read.text``) — the ingest format
    of every web-crawl dump: one doc per line, written per-language
    into a lang=<x> directory tree, re-read with partition discovery.

    Splittable line reads parallelize by byte range at scale; the
    lang partition column comes from the DIRECTORY (no parsing), and
    the post-roundtrip per-lang aggregate must equal the source-table
    oracle — newline-free texts make the line<->doc bijection exact.
    """
    path = os.path.join(SCRATCH, "text_lines")
    t(spark, sf_dir, "documents").select("lang", "text").write.mode(
        "overwrite"
    ).partitionBy("lang").text(path)
    back = spark.read.text(path)  # partition discovery adds `lang`
    return back.groupBy("lang").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_len"),
    )


@register(
    "scan_binary_files",
    oracle="""
    SELECT count(*) AS n_files,
           cast(sum(octet_length(encode(text))) AS bigint) AS total_bytes,
           cast(min(octet_length(encode(text))) AS bigint) AS min_bytes,
           cast(max(octet_length(encode(text))) AS bigint) AS max_bytes
    FROM documents WHERE doc_id < 20
    """,
)
def scan_binary_files(spark, sf_dir):
    """Opaque-binary ingest (``binaryFile`` source) — the multimodal
    on-ramp: image/audio blobs land as (path, modificationTime,
    length, content) rows with NO decode, exactly how §2.9's mm_*
    kernels expect them.

    20 docs are materialized as one file each, utf-8 encoded so a
    regenerated corpus with non-ASCII text still round-trips (the
    oracle counts utf-8 BYTES via octet_length(encode(text)), never
    chars); the binaryFile scan lists + reads them distributed,
    content stays a byte column until a kernel asks.
    """
    import shutil

    path = os.path.join(SCRATCH, "binary_files")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()  # 20 tiny rows — fixture materialization, not the operator
    )
    for r in rows:
        with open(os.path.join(path, f"doc_{r['doc_id']:05d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    blobs = spark.read.format("binaryFile").load(path)
    return blobs.agg(
        F.count("*").alias("n_files"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.min(F.length("content")).cast("bigint").alias("min_bytes"),
        F.max(F.length("content")).cast("bigint").alias("max_bytes"),
    )


@register(
    "scan_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             NULL AS o_orderstatus FROM v1
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM v2
    )
    SELECT coalesce(o_orderstatus, '__missing__') AS status,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM unioned GROUP BY 1
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet file generations — the
    data-lake reality every long-lived table hits: generation 1 was
    written before the `o_orderstatus` column existed, generation 2
    carries it.  `mergeSchema=true` unions the footer schemas at scan
    time and back-fills the missing column with NULLs (exactly
    DuckDB's union_by_name; the oracle states the same union).

    Scale note: mergeSchema reads EVERY file footer up front — cheap
    here, a real cost at 100 TB with millions of files, which is why
    production tables front this with a catalog (Delta/Iceberg) that
    stores the merged schema once; the scan-side semantics this key
    pins are identical.  Writes go to the per-process scratch (cached
    fixture-write pattern), reads are one pass, aggregation is
    map-side combined.
    """
    path = os.path.join(SCRATCH, "schema_evo")
    o = t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen=1"), os.path.join(path, "gen=2")
    )
    return back.groupBy(
        F.coalesce("o_orderstatus", F.lit("__missing__")).alias("status")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "scan_csv_permissive",
    oracle="""
    SELECT count(CASE WHEN o_orderkey % 13 <> 0 THEN 1 END) AS n_good,
           count(CASE WHEN o_orderkey % 13 = 0 THEN 1 END) AS n_corrupt,
           cast(sum(CASE WHEN o_orderkey % 13 <> 0
                         THEN cast(round(o_totalprice * 100) AS bigint) END)
                AS bigint) AS good_cents
    FROM orders
    """,
)
def scan_csv_permissive(spark, sf_dir):
    """Malformed-input handling: a CSV feed where every 13th record is
    garbage ("corrupt-upstream-export" reality), read in PERMISSIVE
    mode with columnNameOfCorruptRecord — bad rows surface as a
    quarantine column instead of failing the job (FAILFAST) or
    vanishing silently (DROPMALFORMED loses the evidence).  The
    operational contract: good rows aggregate, bad rows are COUNTED,
    and good+bad = input (nothing dropped on the floor).

    The fixture is written as raw text lines (the CSV writer can't
    produce malformed output); corruption = an unparseable key column.
    The oracle derives the same partition from the source relation
    arithmetically — matching proves PERMISSIVE routed every row to
    exactly one side and parsed the survivors losslessly (prices
    re-aggregated as exact integer cents).

    Scale: text write + schema-supplied CSV read (inference would be a
    full extra pass); corrupt-record tracking is per-row codegen, the
    rollup is one map-side-combined aggregate.
    """
    path = os.path.join(SCRATCH, "csv_permissive")
    o = t(spark, sf_dir, "orders")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.concat(F.lit("GARBAGE_"), F.col("o_orderstatus"), F.lit(",not_a_number")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                F.col("o_orderstatus"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("cents"))).alias(
            "good_cents"
        ),
    )


@register(
    "sink_dynamic_overwrite",
    oracle="""
    WITH base AS (
      SELECT year(o_orderdate) AS y, o_orderkey,
             cast(round(o_totalprice * 100) AS bigint) AS cents
      FROM orders
    ),
    final AS (
      SELECT y, o_orderkey,
             CASE WHEN y = 1996 THEN cents * 2 ELSE cents END AS cents
      FROM base
    )
    SELECT y, count(*) AS n, cast(sum(cents) AS bigint) AS total_cents
    FROM final GROUP BY y
    """,
)
def sink_dynamic_overwrite(spark, sf_dir):
    """DYNAMIC partition overwrite — the idempotent-backfill contract
    every partitioned warehouse table depends on: rewriting one
    partition's data replaces ONLY the partitions present in the new
    write (static mode would TRUNCATE THE WHOLE TABLE first — the
    classic "backfill one day, lose five years" incident).  A full
    year-partitioned table is written, then 1996 is re-written with
    doubled amounts via `option("partitionOverwriteMode", "dynamic")`
    (per-write option — no session-conf leak into sibling keys); the
    read-back proves 1996 changed and every other year survived.

    The oracle states the expected FINAL table arithmetically.  Scale:
    partition-granular replacement is exactly how 100 TB backfills
    stay O(partition) instead of O(table); the write shuffles only the
    re-written year.
    """
    path = os.path.join(SCRATCH, "dyn_overwrite")
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    o.write.mode("overwrite").partitionBy("y").parquet(path)
    patched = o.filter(F.col("y") == 1996).withColumn(
        "cents", F.col("cents") * 2
    )
    (
        patched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("y")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("y").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


@register(
    "scan_glob_recursive",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           cast(sum(cast(round(o_totalprice * 100) AS bigint)) AS bigint)
             AS total_cents
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    """,
)
def scan_glob_recursive(spark, sf_dir):
    """Directory-tree ingestion surface: a dataset laid out as
    arbitrary nested folders (feed/2024/batch_F, feed/2024/batch_O,
    feed/archive/batch_P — NOT hive key=value partitions), read with
    `recursiveFileLookup` + `pathGlobFilter` so only the batch_F/O
    leaves are ingested — the "vendor dropped files wherever" reality
    that partition discovery can't parse.

    The glob filters FILES by name (status-tagged parquet file names),
    so the archive branch is never opened — at 100 TB listing
    discipline is the difference between a metadata operation and a
    day of S3 LIST calls (production fronts this with a manifest; the
    scan semantics pinned here are identical).  Oracle states the
    expected F+O aggregate from the source relation.
    """
    root = os.path.join(SCRATCH, "glob_tree")
    o = t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    for st, sub in (("F", "2024"), ("O", "2024"), ("P", "archive")):
        (
            o.filter(F.col("o_orderstatus") == st)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(root, sub, f"batch_{st}"))
        )
        # tag the data files with the status so pathGlobFilter can
        # select them by NAME (vendor-feed naming convention)
        import glob as _glob

        d = os.path.join(root, sub, f"batch_{st}")
        for i, f_ in enumerate(sorted(_glob.glob(os.path.join(d, "part-*.parquet")))):
            os.rename(f_, os.path.join(d, f"feed_{st}_{i}.parquet"))
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "feed_[FO]_*.parquet")
        .parquet(root)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


@register(
    "scan_observe",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_discount > 0.02
    GROUP BY l_returnflag
    """,
)
def scan_observe(spark, sf_dir):
    """Inline pipeline observability (df.observe): named accumulator
    metrics — rows scanned, quantity mass — collected DURING the main
    query's single pass, not by a second audit scan.  At 100 TB the
    difference between observe() and a separate "SELECT count(*)"
    validation query is literally doubling the job's I/O; observe
    rides the same tasks for free (it compiles to
    CollectMetrics, a streaming-safe accumulator node).

    The observed metrics surface on the Observation handle after the
    first action (the driver's collect); the RESULT relation is the
    query itself — observe is semantically transparent, which is
    exactly what the oracle twin checks.  Pre-filter placement is the
    useful pattern: metrics see the RAW scan while the result is
    filtered, giving admission-rate monitoring (dq_expectations'
    cheap sibling) in zero extra passes.
    """
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.round(F.sum("l_quantity"), 2).alias("qty_scanned"),
    )
    return (
        observed.filter(F.col("l_discount") > 0.02)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "sink_manifest",
    oracle="""
    SELECT o_orderstatus, 1 AS n_files, count(*) AS n_rows,
           cast(count(DISTINCT o_orderkey) AS bigint) AS n_keys
    FROM orders GROUP BY 1
    """,
)
def sink_manifest(spark, sf_dir):
    """Write manifest via the _metadata column: after a partitioned
    write, re-read with the hidden file-metadata struct and produce
    the (partition, file count, row count) manifest a table format's
    commit log records — the audit that catches partial writes,
    orphan files and small-files explosions at the storage layer.

    The write repartitions by the partition column first, so each
    Hive partition is exactly ONE file — that determinism is part of
    the contract under test (n_files = 1 per status), and it is also
    the layout you WANT: files-per-partition = writing tasks, and an
    unrepartitioned write sprays |tasks| small files into every
    partition (the small-files problem sink_compact exists to fix).
    `_metadata.file_path` is evaluated scan-side (no Python, no extra
    pass); distinct-key count proves the roundtrip lossless.
    """
    path = os.path.join(SCRATCH, "sink_manifest")
    o = t(spark, sf_dir, "orders")
    o.repartition("o_orderstatus").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    back = spark.read.parquet(path).select(
        "o_orderstatus", "o_orderkey", F.col("_metadata.file_path").alias("fp")
    )
    return back.groupBy("o_orderstatus").agg(
        F.countDistinct("fp").cast("int").alias("n_files"),
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@register(
    "scan_pysource_stream",
    oracle="""
    WITH ticks AS (
      SELECT unnest(generate_series(0, 79)) AS tick
    )
    SELECT tick % 8 AS shard,
           cast(count(*) AS bigint) AS n,
           cast(sum(tick) AS bigint) AS sum_tick,
           round(sum(sin(tick * 0.7) * 100), 4) AS sum_signal
    FROM ticks
    GROUP BY 1
    """,
)
def scan_pysource_stream(spark, sf_dir):
    """STREAMING Python data source (Spark 4
    ``SimpleDataSourceStreamReader``) — the seam a Kafka-less custom
    feed (device telemetry, a REST poll, a queue without a JVM
    connector) plugs into: the reader tracks its own OFFSET (here a
    monotone tick counter), each micro-batch reads [start, end), and
    the engine checkpoints those offsets exactly like any built-in
    source — so the at-least-once/exactly-once machinery
    (stream_restart_recovery) applies to Python sources too.

    The feed is a pure deterministic function of the tick, capped at
    80 ticks (10 batches of 8); Python micro-batch sources don't
    support Trigger.AvailableNow (Spark would fall back to ONE
    batch), so the drain uses a processing-time trigger and stops
    when the bounded feed is fully consumed.  The DuckDB twin
    regenerates the same ticks via generate_series, proving every
    offset range was delivered EXACTLY once across the ~10
    micro-batches.  The aggregate runs in the streaming plan
    (complete mode, shard-keyed) — at scale this is the
    offset-partitioned ingest shape: each batch's work is bounded by
    the offset range, never by history.
    """
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class TickStreamReader(SimpleDataSourceStreamReader):
        CAP = 80
        STEP = 8

        def initialOffset(self):
            return {"tick": 0}

        def read(self, start):
            import math

            s = start["tick"]
            if s >= self.CAP:
                return iter([]), {"tick": s}
            e = min(s + self.STEP, self.CAP)
            rows = [
                (t, t % 8, round(math.sin(t * 0.7) * 100, 6)) for t in range(s, e)
            ]
            return iter(rows), {"tick": e}

        def readBetweenOffsets(self, start, end):
            import math

            return iter(
                (t, t % 8, round(math.sin(t * 0.7) * 100, 6))
                for t in range(start["tick"], end["tick"])
            )

    class TickSource(DataSource):
        @classmethod
        def name(cls):
            return "tick_stream"

        def schema(self):
            return "tick long, shard long, signal double"

        def simpleStreamReader(self, schema):
            return TickStreamReader()

    spark.dataSource.register(TickSource)
    import tempfile
    import time as _time

    from raster2points_spark.streaming import scoped_shuffle_partitions

    stream = spark.readStream.format("tick_stream").load()
    agg = stream.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("tick").cast("bigint").alias("sum_tick"),
        F.round(F.sum("signal"), 4).alias("sum_signal"),
    )
    # Python micro-batch sources don't support Trigger.AvailableNow
    # (single-batch fallback would read ONE offset range) — drain with
    # a processing-time trigger and stop once the bounded feed is
    # consumed (total n == CAP in the complete-mode memory table).
    name = "pysource_stream"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    with scoped_shuffle_partitions(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = _time.time() + 120
        got = None
        while _time.time() < deadline:
            got = spark.table(name).agg(F.sum("n")).collect()[0][0]
            if got == TickStreamReader.CAP:
                break
            _time.sleep(0.3)
        query.stop()
        query.awaitTermination()
        if got != TickStreamReader.CAP:
            # A partial complete-mode table would surface downstream as
            # a confusing oracle hash mismatch — fail loudly instead.
            raise RuntimeError(
                f"pysource stream drained {got}/{TickStreamReader.CAP} "
                "ticks before the 120s deadline"
            )
    return spark.table(name)


@register(
    "sink_timetravel",
    oracle="""
    WITH v1 AS (
      SELECT * FROM orders WHERE o_orderdate < timestamp '2000-01-01'
    ),
    v2_delta AS (
      SELECT * FROM orders WHERE o_orderdate >= timestamp '2000-01-01'
    )
    SELECT 1 AS version, o_orderstatus,
           cast(count(*) AS bigint) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM v1 GROUP BY 2
    UNION ALL
    SELECT 2, o_orderstatus, cast(count(*) AS bigint),
           round(sum(o_totalprice), 2)
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2_delta) GROUP BY 2
    """,
)
def sink_timetravel(spark, sf_dir):
    """TIME TRAVEL over a manifest commit log — the lakehouse
    snapshot-isolation read, built from first principles: each commit
    appends new data FILES plus a version manifest listing EVERY file
    visible at that version; reading "AS OF v" loads exactly the
    manifest's file list, so an old snapshot stays readable and
    BYTE-STABLE after later commits (and a reader never sees a
    half-committed version — the manifest write is the atomic commit
    point, exactly Delta/Iceberg's contract).

    Two commits are staged (pre-2000 orders, then the 2000+ delta);
    the result is both versions' aggregates read BACK through their
    manifests — the oracle recomputes each snapshot from the base
    table, so the hash match proves snapshot isolation held: v1 read
    after commit 2 equals v1 as written.  Commit cost is O(delta
    files + manifest); old versions are never rewritten (contrast
    diff_snapshots, which DIFFS two versions; this key serves them).
    """
    import json

    path = os.path.join(SCRATCH, "timetravel")
    data_dir = os.path.join(path, "data")
    log_dir = os.path.join(path, "log")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    o = t(spark, sf_dir, "orders")

    def commit(df, version, prev_files):
        vdir = os.path.join(data_dir, f"v{version}")
        df.write.mode("overwrite").parquet(vdir)
        files = sorted(
            os.path.join(vdir, f)
            for f in os.listdir(vdir)
            if f.endswith(".parquet")
        )
        manifest = prev_files + files
        with open(os.path.join(log_dir, f"{version:06d}.json"), "w") as fh:
            json.dump({"version": version, "files": manifest}, fh)
        return manifest

    f1 = commit(o.filter(F.col("o_orderdate") < "2000-01-01"), 1, [])
    commit(o.filter(F.col("o_orderdate") >= "2000-01-01"), 2, f1)

    def read_as_of(version):
        with open(os.path.join(log_dir, f"{version:06d}.json")) as fh:
            files = json.load(fh)["files"]
        return spark.read.parquet(*files)

    def snap_agg(df, version):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).select(F.lit(version).alias("version"), "o_orderstatus", "n", "total")

    return snap_agg(read_as_of(1), 1).unionByName(snap_agg(read_as_of(2), 2))
