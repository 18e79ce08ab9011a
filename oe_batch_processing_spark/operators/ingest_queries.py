"""Harness-visible ingestion queries: exercise the fixed-width and CSV parse
paths inside the driver's differential gate by round-tripping table rows
through formatted text lines and back through the engine's parsers.

(The file-based ingestion lifecycle — line scan, ledgers, outcome routing —
is covered in tests/test_ingestion.py with real files; these queries make the
parsing operators themselves oracle-checkable.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.session import scratch_dir
from oe_batch_processing_spark.sources.fixed_width import fw_columns
from oe_batch_processing_spark.tables import load_table

# layout: custkey[1-12] zero-padded, segment[13-24] space-padded, balance
# printed as scaled integer cents [25-36] so no float-format round trip
FW_LAYOUT = [
    {"fieldName": "custkey", "type": "number", "startPosition": 1, "endPosition": 12},
    {"fieldName": "segment", "type": "string", "startPosition": 13, "endPosition": 24},
    {"fieldName": "bal_cents", "type": "number", "startPosition": 25, "endPosition": 36},
]


@query(
    "fw_parse_roundtrip",
    oracle="""
    WITH lines AS (
      SELECT lpad(CAST(c_custkey AS VARCHAR), 12, '0')
             || rpad(c_mktsegment, 12, ' ')
             || lpad(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR), 12, ' ')
             AS rec
      FROM customer
    )
    SELECT CAST(trim(substring(rec, 1, 12)) AS DOUBLE) AS custkey,
           trim(substring(rec, 13, 12)) AS segment,
           CAST(trim(substring(rec, 25, 12)) AS DOUBLE) AS bal_cents
    FROM lines
    WHERE length(rec) = 36
    """,
)
def fw_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width native parse (reference O4 semantics, codegen path):
    format customer rows as 36-char records, then extract+trim+coerce via the
    engine's layout projection. Negative balances print as e.g. '0000-12345'
    — balances are scaled to integer cents and space-padded (zero-padding
    a signed value would corrupt it) so the trim+cast round-trips exactly."""
    c = load_table(spark, sf_dir, "customer")
    lines = c.select(
        F.concat(
            F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
            F.rpad("c_mktsegment", 12, " "),
            F.lpad(
                F.round(F.col("c_acctbal") * 100).cast("long").cast("string"), 12, " "
            ),
        ).alias("rec")
    )
    strict = lines.filter(F.length("rec") == 36)  # reference strict-length rule
    return strict.select(*fw_columns(FW_LAYOUT))


@query(
    "csv_parse_roundtrip",
    oracle="""
    WITH lines AS (
      SELECT CAST(o_orderkey AS VARCHAR) || ',' || o_orderstatus || ','
             || o_orderpriority AS rec
      FROM orders
    )
    SELECT CAST(string_split(rec, ',')[1] AS BIGINT) AS orderkey,
           string_split(rec, ',')[2] AS status,
           string_split(rec, ',')[3] AS priority
    FROM lines
    """,
)
def csv_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV native parse via from_csv with a declared schema (reference O2's
    scale path): format order rows as CSV lines, parse back typed."""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            "o_orderstatus",
            "o_orderpriority",
        ).alias("rec")
    )
    parsed = lines.select(
        F.from_csv(
            "rec", "orderkey BIGINT, status STRING, priority STRING"
        ).alias("p")
    )
    return parsed.select("p.orderkey", "p.status", "p.priority")


@query(
    "json_parse_roundtrip",
    oracle="""
    WITH lines AS (
      SELECT '{"id": ' || CAST(event_id AS VARCHAR)
             || ', "kind": "' || event_type
             || '", "cents": ' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
             || '}' AS rec
      FROM events
    )
    SELECT CAST(json_extract(rec, '$.id') AS BIGINT) AS id,
           json_extract_string(rec, '$.kind') AS kind,
           CAST(json_extract(rec, '$.cents') AS BIGINT) AS cents
    FROM lines
    """,
)
def json_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines native parse via from_json with a declared schema (the
    third line-oriented source format next to CSV/FW): format event rows as
    JSON objects, parse back typed. Values print as integer cents so no
    float-format round trip. PERMISSIVE-mode corrupt-record routing for this
    path is exercised in tests/test_ingestion.py on real files."""
    ev = load_table(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(
            F.lit('{"id": '),
            F.col("event_id").cast("string"),
            F.lit(', "kind": "'),
            F.col("event_type"),
            F.lit('", "cents": '),
            F.round(F.col("value") * 100).cast("long").cast("string"),
            F.lit("}"),
        ).alias("rec")
    )
    parsed = lines.select(
        F.from_json("rec", "id BIGINT, kind STRING, cents BIGINT").alias("p")
    )
    return parsed.select("p.id", "p.kind", "p.cents")


@query(
    "xml_parse_roundtrip",
    oracle="""
    WITH lines AS (
      SELECT '<rec><id>' || CAST(event_id AS VARCHAR)
             || '</id><kind>' || event_type
             || '</kind><cents>'
             || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
             || '</cents></rec>' AS rec
      FROM events
    )
    SELECT CAST(regexp_extract(rec, '<id>(-?[0-9]+)</id>', 1) AS BIGINT) AS id,
           regexp_extract(rec, '<kind>([^<]*)</kind>', 1) AS kind,
           CAST(regexp_extract(rec, '<cents>(-?[0-9]+)</cents>', 1) AS BIGINT)
             AS cents
    FROM lines
    """,
)
def xml_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML native parse via ``from_xml`` (built into Spark 4 — the fourth
    line-oriented source format next to CSV/FW/JSON): format event rows as
    XML records, parse back typed with a declared schema. The DuckDB oracle
    independently re-parses the same synthesized records with regexes, so
    the serialize→parse round trip is hash-verified end to end. The
    file-based path is ``spark.read.format('xml').option('rowTag', ...)``
    (same PERMISSIVE corrupt-record semantics as CSV/JSON).
    """
    ev = load_table(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(
            F.lit("<rec><id>"),
            F.col("event_id").cast("string"),
            F.lit("</id><kind>"),
            F.col("event_type"),
            F.lit("</kind><cents>"),
            F.round(F.col("value") * 100).cast("long").cast("string"),
            F.lit("</cents></rec>"),
        ).alias("rec")
    )
    parsed = lines.select(
        F.from_xml("rec", "id BIGINT, kind STRING, cents BIGINT").alias("p")
    )
    return parsed.select("p.id", "p.kind", "p.cents")


@query(
    "pyds_synthetic_events",
    oracle=f"""
    WITH gen AS (
      SELECT i AS id, (i * 48271) % 2147483647 AS amount
      FROM (SELECT UNNEST(range(20000)) AS i)
    )
    SELECT CASE amount % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
                           ELSE 'gamma' END AS kind,
           COUNT(*) AS n,
           CAST(SUM(amount) AS BIGINT) AS total_amount,
           MIN(id) AS min_id,
           MAX(id) AS max_id
    FROM gen
    GROUP BY 1
    """,
)
def pyds_synthetic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python DataSource connector
    (sources/py_datasource.py — Spark 4's user-defined-source API, the
    Spark-native form of the reference's custom parser/source hook,
    lib/batchProcessing.js:130-200) and aggregate. The connector's
    deterministic LCG lets the DuckDB oracle regenerate the exact same
    rows, so a *custom connector* gets a full value-hash correctness row,
    not just a smoke test. 16 input partitions -> 16 parallel read tasks.
    """
    from oe_batch_processing_spark.sources import py_datasource

    py_datasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 20000)
        .option("partitions", 16)
        .load()
    )
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").alias("total_amount"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "ingest_orc_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read round trip: the events table (value pre-quantized
    to integer cents so the round trip is bit-exact by construction) is
    written as ORC — Spark's second built-in columnar format, the one
    Hive-lineage warehouses hand over — read back, and aggregated. The
    oracle aggregates the ORIGINAL parquet, so a hash match proves the
    ORC encode/decode preserved every row and value, extending the
    roundtrip family (CSV/FW/JSON/XML) to the columnar format axis.

    Scale: ORC and parquet share Spark's vectorized columnar reader and
    predicate-pushdown path; the write is
    ``repartition``-controlled like any columnar sink (small-file hygiene
    is the writer's partition count, here one file per shuffle partition).
    """
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # app-id-scoped so concurrent sessions never clobber each other's
    # staging dir (ORC write itself is driver-coordinated, so the only
    # assumption is the usual one: the write path is session-visible)
    path = os.path.join(
        tempfile.gettempdir(),
        f"oebp-orc-roundtrip-{spark.sparkContext.applicationId}",
        os.path.basename(sf_dir),
    )
    ev.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "pyds_stream_synthetic",
    oracle="""
    WITH gen AS (
      SELECT i AS id, (i * 48271) % 2147483647 AS amount
      FROM (SELECT UNNEST(range(20000)) AS i)
    )
    SELECT CASE amount % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
                           ELSE 'gamma' END AS kind,
           COUNT(*) AS n,
           CAST(SUM(amount) AS BIGINT) AS total_amount,
           MIN(id) AS min_id,
           MAX(id) AS max_id
    FROM gen
    GROUP BY 1
    """,
)
def pyds_stream_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read through the custom Python DataSource
    (sources/py_datasource.py ``simpleStreamReader`` — Spark 4's
    user-defined streaming source API): the connector pages the same
    deterministic LCG rows in 2,000-row micro-batch slices with a real
    offset contract (initialOffset / read / readBetweenOffsets), the
    query appends each batch to a sink, and the operator stops the
    stream once all 20,000 rows have arrived. Aggregating the streamed
    rows then hash-matches the SAME DuckDB oracle as the batch-connector
    twin (``pyds_synthetic_events``) — batch/stream parity through a
    custom connector, multi-micro-batch by construction (AvailableNow
    falls back to single-batch for Python streaming sources, so the
    operator drives a processing-time trigger and stops at the known
    row count instead).

    Scale: offsets page the source; each micro-batch is bounded by
    ``batch_rows`` regardless of backlog — the backpressure contract the
    reference implements with paused streams (lib/batchProcessing.js
    backpressure), here expressed as offset-range slicing.
    """
    import time as _time
    import uuid as _uuid

    from oe_batch_processing_spark.sources import py_datasource

    py_datasource.register(spark)
    n_rows = 20000
    name = f"pyds_stream_{_uuid.uuid4().hex[:10]}"
    with scratch_dir(f"oebp-ckpt-{name}-") as ckpt:
        q = (
            spark.readStream.format("synthetic_events")
            .option("rows", n_rows)
            .option("batch_rows", 2000)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + 120
            while _time.time() < deadline:
                if spark.table(name).count() >= n_rows:
                    break
                _time.sleep(0.3)
            q.stop()
            q.awaitTermination(60)
        finally:
            if q.isActive:
                q.stop()
    streamed = spark.table(name)
    got = streamed.count()
    assert got == n_rows, f"streamed {got} rows, expected {n_rows}"
    return streamed.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").alias("total_amount"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "pyds_writer_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def pyds_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 ``DataSourceWriter``) —
    the other half of the user-defined-connector surface (the reader and
    stream-reader halves are ``pyds_synthetic_events`` /
    ``pyds_stream_synthetic``): the events table (value pre-quantized to
    integer cents) is written through
    ``df.write.format("oebp_jsonl")`` — per-task JSON-lines files plus a
    driver-side two-phase commit that writes a manifest from the tasks'
    commit messages — then read back with the built-in JSON reader and
    aggregated. The oracle aggregates the ORIGINAL parquet, so the hash
    match proves the custom write path preserved every row and value, and
    the row count is cross-checked against the writer's own manifest.

    Scale: the writer is the standard DSv2 two-phase shape — tasks write
    independently and return commit messages; only the tiny manifest
    passes through the driver. A production writer swaps the local
    directory for object storage and adds task-attempt isolation paths.

    Staging-path assumption: executor tasks write files the driver then
    re-reads, so ``out`` must be a filesystem BOTH sides see (true in
    local mode; a cluster deployment points it at shared/object storage).
    The dir is scoped by Spark applicationId so concurrent sessions never
    rmtree each other's output.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    from oe_batch_processing_spark.sources import py_datasource

    py_datasource.register(spark)
    out = os.path.join(
        tempfile.gettempdir(),
        f"oebp-pyds-writer-{spark.sparkContext.applicationId}",
        os.path.basename(sf_dir),
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.write.format("oebp_jsonl").option("path", out).mode("append").save()

    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = _json.load(f)

    back = spark.read.schema("event_id long, event_type string, cents long").json(
        os.path.join(out, "part-*.jsonl")
    )
    agg = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    # writer-manifest cross-check: the two-phase commit's accounting must
    # agree with what the read-back sees
    n_back = back.count()
    if manifest["total_rows"] != n_back:
        raise AssertionError(
            f"manifest says {manifest['total_rows']} rows, read {n_back}"
        )
    return agg


@query(
    "ingest_gzip_codec_scan",
    oracle="""
    SELECT doc_id % 10 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_sum,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(COUNT(*) AS BIGINT) AS n_from_gz
    FROM documents
    GROUP BY 1
    """,
)
def ingest_gzip_codec_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE compression-codec scan path: write the documents
    table as gzip-compressed JSON-lines shards (``.json.gz`` — the
    writer-side ``compression`` option), read them back with the plain
    JSON reader (codec auto-detected from the extension), and aggregate
    content checksums per bucket. ``n_from_gz`` counts only rows whose
    ``input_file_name()`` ends in ``.json.gz`` — equal to ``n_docs`` iff
    every row really came through the gzip codec, which the oracle
    (computed from the original parquet) enforces.

    This is the third decompression surface in the repo, and the one a
    production crawl pipeline actually uses (Common-Crawl-style .gz
    text): stdlib-gzip decode of payload BYTES (multimodal_gzip_decode),
    hand-written DEFLATE containers (PNG), and here the JVM codec stack
    at SCAN level.

    Scale: gzip files are NOT SPLITTABLE — each .gz shard is one task, so
    the writer's ``repartition(N)`` IS the read parallelism knob; a
    production layout targets shards of 100-500 MB compressed. (Prefer
    zstd/bzip2-splittable or plain parquet where possible; .gz is what
    crawls hand you.) The write scopes its staging dir by applicationId
    (shared-FS assumption, same as the binaryFile op).
    """
    import os
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(),
        f"oebp-gzip-scan-{spark.sparkContext.applicationId}",
        os.path.basename(sf_dir),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # hash-partitioned (deterministic shard contents, unlike round-robin)
    docs.repartition(8, "doc_id").write.mode("overwrite").option(
        "compression", "gzip"
    ).json(out)

    back = spark.read.schema("doc_id long, text string").json(out)
    # input_file_name() is non-deterministic to Catalyst — project the
    # came-through-gzip flag BEFORE the aggregate
    flagged = back.withColumn(
        "from_gz",
        F.when(F.input_file_name().endswith(".json.gz"), 1).otherwise(0),
    )
    return flagged.groupBy((F.col("doc_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length(F.encode("text", "UTF-8"))).alias("total_bytes"),
        F.sum(F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long"))
        .alias("content_sum"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("from_gz").alias("n_from_gz"),
    )


# --- parquet footer introspection (hand-written compact-Thrift walker) ------
#
# The tenth hand-written format grammar — and the first validated against an
# INDEPENDENT production implementation rather than our own encoder: the
# walker parses the real parquet footers of the test tables (PAR1 magic,
# 4-byte footer length, Thrift COMPACT-protocol FileMetaData with zigzag
# varints, field-id deltas, nested structs/lists), and
# tests/test_parquet_footer.py compares every column chunk field-by-field
# (num_values, codec, offsets, sizes, dotted schema paths) against DuckDB's
# parquet_metadata() over the same files. The registered query oracles the
# SQL-derivable subset (row counts and top-level schema vs
# information_schema + COUNT over the views).

_THRIFT_STOP = 0


def _varint(b: bytes, i: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        byte = b[i]
        i += 1
        out |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return out, i
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _thrift_value(b: bytes, i: int, typ: int):
    """Parse one compact-protocol value of wire type ``typ``."""
    if typ in (1, 2):  # BOOL inside a list: one byte
        v = b[i]
        return v == 1, i + 1
    if typ == 3:  # BYTE
        v = b[i]
        return v - 256 if v >= 128 else v, i + 1
    if typ in (4, 5, 6):  # I16/I32/I64: zigzag varint
        raw, i = _varint(b, i)
        return _zigzag(raw), i
    if typ == 7:  # DOUBLE: 8 bytes little-endian
        import struct

        return struct.unpack("<d", b[i:i + 8])[0], i + 8
    if typ == 8:  # BINARY/STRING
        n, i = _varint(b, i)
        return bytes(b[i:i + n]), i + n
    if typ in (9, 10):  # LIST/SET
        header = b[i]
        i += 1
        size = header >> 4
        etype = header & 0x0F
        if size == 15:
            size, i = _varint(b, i)
        out = []
        for _ in range(size):
            v, i = _thrift_value(b, i, etype)
            out.append(v)
        return out, i
    if typ == 11:  # MAP
        size, i = _varint(b, i)
        out = {}
        if size:
            kt, vt = b[i] >> 4, b[i] & 0x0F
            i += 1
            for _ in range(size):
                k, i = _thrift_value(b, i, kt)
                v, i = _thrift_value(b, i, vt)
                out[k] = v
        return out, i
    if typ == 12:  # STRUCT
        return _thrift_struct(b, i)
    raise ValueError(f"unknown thrift compact type {typ}")


def _thrift_struct(b: bytes, i: int) -> tuple[dict, int]:
    """Generic compact-protocol struct -> {field_id: value}."""
    out: dict[int, object] = {}
    fid = 0
    while True:
        header = b[i]
        i += 1
        if header == _THRIFT_STOP:
            return out, i
        delta = header >> 4
        typ = header & 0x0F
        if delta:
            fid += delta
        else:
            raw, i = _varint(b, i)
            fid = _zigzag(raw)
        if typ == 1:
            out[fid] = True
        elif typ == 2:
            out[fid] = False
        else:
            out[fid], i = _thrift_value(b, i, typ)


_PARQUET_CODECS = {0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
                   4: "BROTLI", 5: "LZ4", 6: "ZSTD", 7: "LZ4_RAW"}


def parse_parquet_footer(b: bytes) -> dict:
    """Parse a parquet file's footer -> {num_rows, created_by, top_columns:
    [names], row_groups: [{num_rows, total_byte_size, columns: [{path,
    codec, num_values, total_compressed_size, total_uncompressed_size,
    data_page_offset, dictionary_page_offset}]}]}.

    Real grammar: leading+trailing PAR1 magic, trailing 4-byte LE footer
    length, Thrift compact-protocol FileMetaData (field-id delta encoding,
    zigzag varints, nested structs/lists). Raises ValueError on malformed
    structure."""
    import struct

    if b[:4] != b"PAR1" or b[-4:] != b"PAR1":
        raise ValueError("bad parquet magic")
    (flen,) = struct.unpack("<I", b[-8:-4])
    if flen + 8 > len(b):
        raise ValueError("footer length exceeds file")
    footer = b[len(b) - 8 - flen:len(b) - 8]
    try:
        return _navigate_footer(footer)
    except (IndexError, KeyError, AttributeError, TypeError,
            struct.error) as e:
        # garbage bytes can also PARSE as thrift then fail navigation —
        # both are the same caller-facing condition
        raise ValueError(f"malformed thrift footer: {e}") from e


def _navigate_footer(footer: bytes) -> dict:
    fm, _ = _thrift_struct(footer, 0)
    schema = fm[2]  # flattened SchemaElement tree
    root = schema[0]
    n_top = root.get(5, 0)
    top_columns = []
    idx = 1

    def _skip(ix: int) -> int:
        kids = schema[ix].get(5, 0)
        ix += 1
        for _ in range(kids):
            ix = _skip(ix)
        return ix

    for _ in range(n_top):
        top_columns.append(schema[idx][4].decode())
        idx = _skip(idx)
    row_groups = []
    if not isinstance(fm.get(4), list):
        raise ValueError("malformed thrift footer: no row groups")
    for rg in fm[4]:
        cols = []
        for cc in rg[1]:
            md = cc[3]
            cols.append({
                "path": ", ".join(p.decode() for p in md[3]),
                "codec": _PARQUET_CODECS.get(md[4], f"UNKNOWN_{md[4]}"),
                "num_values": md[5],
                "total_uncompressed_size": md[6],
                "total_compressed_size": md[7],
                "data_page_offset": md[9],
                "dictionary_page_offset": md.get(11),
            })
        row_groups.append({
            "num_rows": rg[3],
            "total_byte_size": rg[2],
            "columns": cols,
        })
    return {
        "num_rows": fm[3],
        "created_by": (fm.get(6) or b"").decode(errors="replace"),
        "top_columns": top_columns,
        "row_groups": row_groups,
    }


_FOOTER_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")

_FOOTER_ORACLE = (
    "WITH cols AS (\n"
    "  SELECT table_name,\n"
    "         CAST(COUNT(*) AS INTEGER) AS n_columns,\n"
    "         STRING_AGG(column_name, ',' ORDER BY column_name)\n"
    "           AS schema_cols\n"
    "  FROM information_schema.columns\n"
    "  WHERE table_name IN ('" + "','".join(_FOOTER_TABLES) + "')\n"
    "  GROUP BY 1\n"
    "),\n"
    "counts AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM {t}" for t in _FOOTER_TABLES
    )
    + "\n)\n"
    "SELECT c.table_name, c.n AS footer_num_rows,\n"
    "       cols.n_columns, cols.schema_cols\n"
    "FROM counts c JOIN cols USING (table_name)"
)


@query("ingest_parquet_footer_index", oracle=_FOOTER_ORACLE)
def ingest_parquet_footer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-format introspection with a hand-written reader: scan the
    test tables' parquet files as opaque binaries and parse each footer
    with :func:`parse_parquet_footer` (compact-Thrift walker), emitting
    the footer's own row count and top-level schema per table. The
    oracle recomputes those from the OTHER side of the format boundary —
    ``COUNT(*)`` and ``information_schema`` over DuckDB's views of the
    same files — so the walker is checked against an independent parquet
    implementation, not our own encoder. The full per-column-chunk
    comparison (offsets, codecs, sizes, dotted nested paths vs DuckDB's
    ``parquet_metadata()``) lives in tests/test_parquet_footer.py; those
    fields are not SQL-derivable from views, so they are test-validated
    rather than oracle-hashed.

    Scale: footers are KB-sized regardless of file size; at 100 TB a
    metadata pass range-reads only each file's tail (offset = length -
    footer_len - 8) instead of ``binaryFile``-loading whole objects —
    same parser, different byte source. One row per file, no shuffle
    beyond the final tiny aggregation.
    """
    files = spark.read.format("binaryFile").load(
        [f"file://{sf_dir}/{t}.parquet" for t in _FOOTER_TABLES]
    ).select("path", "content")

    def row(path, content):
        import os

        meta = parse_parquet_footer(content)
        yield {
            "table_name": os.path.basename(path)[: -len(".parquet")],
            "footer_num_rows": meta["num_rows"],
            "n_columns": len(meta["top_columns"]),
            "schema_cols": ",".join(sorted(meta["top_columns"])),
        }

    return map_rows(
        files,
        row,
        "table_name string, footer_num_rows long, n_columns int, schema_cols string",
    )
