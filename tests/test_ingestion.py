"""Ingestion-fidelity tests mirroring the reference's test strategy
(SURVEY.md §5: CSV header errors, count mismatches, FW strict length,
boolean strictness, ignore path, ledger invariants)."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest

from oe_batch_processing_spark.engine import IngestJob, run_ingest
from oe_batch_processing_spark.functions.coercion import js_boolean, js_number
from oe_batch_processing_spark.sources.csv_source import (
    CsvConfigError,
    CsvOptions,
    csv_to_array,
)
from oe_batch_processing_spark.sources.fixed_width import FwConfigError, validate_layout
from oe_batch_processing_spark.sinks.ledger import read_runs, read_status
from oe_batch_processing_spark.sources.line_scan import RECDATA_SCHEMA, line_scan


# --- pure-Python fidelity units -------------------------------------------

def test_js_number_semantics():
    assert js_number("") == 0.0  # JS Number('') === 0
    assert js_number("  ") == 0.0
    assert js_number("1e3") == 1000.0
    assert js_number("0x10") == 16.0
    assert js_number("-0b101") == -5.0
    assert js_number("Infinity") == math.inf
    assert js_number("+12.5") == 12.5
    assert math.isnan(js_number("12abc"))
    assert math.isnan(js_number("1,000"))


def test_js_boolean_strict():
    assert js_boolean("true") is True
    assert js_boolean("FALSE") is False
    assert js_boolean("TrUe") is True
    assert js_boolean("1") is None  # reference rejects 1/0/yes/no
    assert js_boolean("yes") is None


def test_csv_tokenizer_quoted_embedded_delimiter():
    # the reference fixture shape: B0001,"C00,0001"
    assert csv_to_array('B0001,"C00,0001"') == ["B0001", "C00,0001"]
    assert csv_to_array("a,'b,c',d") == ["a", "b,c", "d"]
    assert csv_to_array('a,"es\\"caped"') == ["a", 'es"caped']
    assert csv_to_array("a,b,") == ["a", "b", ""]  # empty last field
    assert csv_to_array('a,"unterminated') is None
    assert csv_to_array('a,"x"y') is None  # garbage after closing quote


def test_csv_config_errors():
    with pytest.raises(CsvConfigError):
        CsvOptions(csv_headers=None).resolve()
    with pytest.raises(CsvConfigError):
        CsvOptions(csv_headers="  ").resolve()
    with pytest.raises(CsvConfigError):  # numeric header names rejected
        CsvOptions(csv_headers="key, 123").resolve()
    with pytest.raises(CsvConfigError):  # more types than headers
        CsvOptions(csv_headers="a,b", csv_header_data_types="string,string,number").resolve()
    # ...unless explicitly ignored
    o = CsvOptions(
        csv_headers="a,b",
        csv_header_data_types="string,string,number",
        ignore_extra_header_data_types=True,
    )
    o.resolve()
    assert o.resolved_types == ["string", "string"]


def test_fw_layout_validation():
    with pytest.raises(FwConfigError):
        validate_layout([])
    with pytest.raises(FwConfigError):
        validate_layout([{"fieldName": "k", "type": "string"}])  # missing keys
    with pytest.raises(FwConfigError):
        validate_layout(
            [{"fieldName": "k", "type": "int", "startPosition": 1, "endPosition": 5}]
        )  # unsupported type
    with pytest.raises(FwConfigError):
        validate_layout(
            [{"fieldName": "k", "type": "string", "startPosition": 5, "endPosition": 1}]
        )


# --- end-to-end ingestion runs --------------------------------------------

@pytest.fixture()
def csv_file(tmp_path):
    # CRLF-terminated, headerless, quoted embedded delimiter — the reference
    # fixture shape (FIXTURES.md A2).
    p = tmp_path / "batch.csv"
    lines = [f'B{i:04d},"C00,{i:04d}"' for i in range(1, 101)]
    p.write_bytes(("\r\n".join(lines) + "\r\n").encode())
    return str(p)


@pytest.fixture()
def fw_file(tmp_path):
    # 13-char records: key[1-5] value[6-13] (FIXTURES.md A3)
    p = tmp_path / "batch.fwv"
    lines = [f"B{i:04d}C00{i:05d}" for i in range(1, 101)]
    p.write_bytes(("\r\n".join(lines) + "\r\n").encode())
    return str(p)


FW_LAYOUT = [
    {"fieldName": "key", "type": "string", "startPosition": 1, "endPosition": 5},
    {"fieldName": "value", "type": "string", "startPosition": 6, "endPosition": 13},
]


def test_csv_happy_path(spark, csv_file, tmp_path):
    job = IngestJob(
        file_path=csv_file,
        parser="csv",
        csv_options=CsvOptions(csv_headers=" key, value "),
        sink_path=str(tmp_path / "sink"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    res = run_ingest(spark, job)
    assert res.counts == {
        "totalRecordCount": 100,
        "successCount": 100,
        "failureCount": 0,
    }
    # CRLF stripped, quoted delimiter preserved in value
    import json

    rows = res.success.orderBy("recId").limit(1).collect()
    assert rows[0]["recId"] == 1
    assert json.loads(rows[0]["parsed_json"]) == {"key": "B0001", "value": "C00,0001"}
    # ledger invariants
    runs = read_runs(spark, job.ledger_dir).collect()
    assert len(runs) == 1
    assert runs[0]["totalRecordCount"] == 100
    assert runs[0]["durationMillis"] >= 0
    status = read_status(spark, job.ledger_dir)
    assert status.count() == 100


def test_csv_number_coercion_failure_not_fatal(spark, csv_file):
    # value declared number but contains 'C00,0001' => every record FAILED,
    # run still completes (reference README.md:100-101)
    job = IngestJob(
        file_path=csv_file,
        parser="csv",
        csv_options=CsvOptions(
            csv_headers="key, value", csv_header_data_types="string, number"
        ),
    )
    res = run_ingest(spark, job)
    assert res.counts["failureCount"] == 100
    assert res.counts["successCount"] == 0
    # stop-on-first-error keeps the partial json (SURVEY.md §2.3.2)
    import json

    row = res.failed.orderBy("recId").limit(1).collect()[0]
    assert json.loads(row["parsed_json"]) == {"key": "B0001"}
    assert "Invalid number" in row["error"]


def test_csv_count_mismatch_routes_failed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b\na,b,c\na\n")
    job = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="k1, k2"),
    )
    res = run_ingest(spark, job)
    assert res.counts["successCount"] == 1
    assert res.counts["failureCount"] == 2  # extra field + missing field
    # opt-out: extra fields tolerated
    job2 = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="k1, k2", ignore_extra_headers=True),
    )
    res2 = run_ingest(spark, job2)
    assert res2.counts["successCount"] == 2
    assert res2.counts["failureCount"] == 1


def test_fw_happy_and_strict_length(spark, fw_file):
    res = run_ingest(spark, IngestJob(file_path=fw_file, parser="fw", fw_layout=FW_LAYOUT))
    assert res.counts["successCount"] == 100

    # layout longer than the record (endPosition 15) => record too short => FAILED
    long_layout = [
        {"fieldName": "key", "type": "string", "startPosition": 1, "endPosition": 5},
        {"fieldName": "value", "type": "string", "startPosition": 6, "endPosition": 15},
    ]
    res2 = run_ingest(spark, IngestJob(file_path=fw_file, parser="fw", fw_layout=long_layout))
    assert res2.counts["failureCount"] == 100

    # layout shorter than the record (endPosition 11) => record too long => FAILED
    short_layout = [
        {"fieldName": "key", "type": "string", "startPosition": 1, "endPosition": 5},
        {"fieldName": "value", "type": "string", "startPosition": 6, "endPosition": 11},
    ]
    res3 = run_ingest(spark, IngestJob(file_path=fw_file, parser="fw", fw_layout=short_layout))
    assert res3.counts["failureCount"] == 100


def test_fw_number_coercion(spark, tmp_path):
    p = tmp_path / "num.fwv"
    p.write_text("AAAAA00000123\nBBBBB   12.5 \nCCCCCnotanumb\n")
    layout = [
        {"fieldName": "key", "type": "string", "startPosition": 1, "endPosition": 5},
        {"fieldName": "value", "type": "number", "startPosition": 6, "endPosition": 13},
    ]
    res = run_ingest(spark, IngestJob(file_path=str(p), parser="fw", fw_layout=layout))
    import json

    ok = {r["recId"]: json.loads(r["parsed_json"]) for r in res.success.collect()}
    assert ok[1]["value"] == 123.0
    assert ok[2]["value"] == 12.5
    assert res.counts["failureCount"] == 1  # 'notanumb' fails number coercion


def test_custom_parser_three_way(spark, tmp_path):
    p = tmp_path / "batch.txt"
    lines = [f"{i:039d} {i + 1:039d}" for i in range(1, 100)]
    p.write_text("\n".join(lines) + "\n")

    def on_each_record(rec_data):
        key, value = rec_data["rec"].split(" ")
        if rec_data["recId"] % 10 == 0:
            return None, None  # silent ignore
        if rec_data["recId"] % 7 == 0:
            return {"key": key}, "synthetic failure"
        return {"key": key, "value": value}, None

    res = run_ingest(spark, IngestJob(file_path=str(p), parser=on_each_record))
    ignored = len([i for i in range(1, 100) if i % 10 == 0])
    failed = len([i for i in range(1, 100) if i % 10 != 0 and i % 7 == 0])
    # ignored records are not counted at all (reference lib/batchProcessing.js:623,696)
    assert res.counts["totalRecordCount"] == 99 - ignored
    assert res.counts["failureCount"] == failed
    assert (
        res.counts["totalRecordCount"]
        == res.counts["successCount"] + res.counts["failureCount"]
    )


def test_custom_parser_gets_python_values(spark, tmp_path):
    # the hook sees plain Python values, so it can put them in its payload
    p = tmp_path / "ids.txt"
    p.write_text("a\nb\n")

    def on_each_record(rec_data):
        assert type(rec_data["recId"]) is int
        return {"id": rec_data["recId"], "rec": rec_data["rec"]}, None

    res = run_ingest(spark, IngestJob(file_path=str(p), parser=on_each_record))
    assert res.counts["successCount"] == 2
    got = sorted(r["parsed_json"] for r in res.success.collect())
    assert got == ['{"id": 1, "rec": "a"}', '{"id": 2, "rec": "b"}']


def test_csv_long_radix_literal_is_infinity(spark, tmp_path):
    # JS Number() of a hex literal past the largest double is Infinity; the
    # record succeeds instead of failing the whole run
    import json

    p = tmp_path / "radix.csv"
    p.write_text(f"k1,0x{'f' * 300}\nk2,-0b{'1' * 1100}\nk3,0x10\n")
    job = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="key,n", csv_header_data_types="string,number"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    res = run_ingest(spark, job)
    assert res.counts == {"totalRecordCount": 3, "successCount": 3, "failureCount": 0}
    payloads = {
        r["fileRecordData"]["recId"]: (r["statusText"], r["payload"])
        for r in read_status(spark, job.ledger_dir).collect()
    }
    assert payloads == {
        1: ("SUCCESS", '{"key": "k1", "n": Infinity}'),
        2: ("SUCCESS", '{"key": "k2", "n": -Infinity}'),
        3: ("SUCCESS", '{"key": "k3", "n": 16.0}'),
    }
    assert json.loads(payloads[1][1])["n"] == math.inf
    assert read_runs(spark, job.ledger_dir).collect()[0]["error"] is None


def test_write_run_row_schema_and_values(spark, tmp_path):
    # the BatchRun ledger keeps its columns, types, nullability and values
    from pyspark.sql.types import _parse_datatype_string

    from oe_batch_processing_spark.sinks.ledger import BatchRun, write_run

    ledger_dir = str(tmp_path / "ledger")
    runs = [
        BatchRun(
            batch_run_id="r1",
            file_path="/data/in.csv",
            options_json='{"parser": "csv", "sink": null}',
            start_time_millis=1_700_000_000_000,
            end_time_millis=1_700_000_000_250,
            total_record_count=10,
            success_count=9,
            failure_count=1,
        ),
        BatchRun(
            batch_run_id="r2",
            file_path="/data/é \"quoted\".csv",
            start_time_millis=5,
            error="Invalid (numeric) header name '42'\n\tat line 1",
        ),
    ]
    for run in runs:
        write_run(spark, run, ledger_dir)
    df = read_runs(spark, ledger_dir)
    assert df.schema == _parse_datatype_string(
        "batchRunId string, filePath string, options string, "
        "startTimeMillis long, endTimeMillis long, durationMillis long, "
        "totalRecordCount long, successCount long, failureCount long, "
        "error string"
    )
    assert all(f.nullable for f in df.schema.fields)
    got = sorted((tuple(r) for r in df.collect()), key=lambda r: r[0])
    assert got == [
        (
            "r1", "/data/in.csv", '{"parser": "csv", "sink": null}',
            1_700_000_000_000, 1_700_000_000_250, 250, 10, 9, 1, None,
        ),
        (
            "r2", '/data/é "quoted".csv', "{}", 5, None, None, 0, 0, 0,
            "Invalid (numeric) header name '42'\n\tat line 1",
        ),
    ]


def test_fatal_records_run_error(spark, tmp_path):
    # config error mid-run: ledger captures the error, exception propagates
    p = tmp_path / "x.csv"
    p.write_text("a,b\n")
    job = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="k, 42"),  # numeric header => FATAL
        ledger_dir=str(tmp_path / "ledger"),
    )
    with pytest.raises(CsvConfigError):
        run_ingest(spark, job)
    runs = read_runs(spark, job.ledger_dir).collect()
    assert len(runs) == 1
    assert "header" in runs[0]["error"]


# --- exact line numbering across scan partitions ----------------------------

@contextmanager
def small_splits(spark, size="4k"):
    """Split every text file into ``size``-byte scan partitions."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _expected_lines(data: bytes) -> list[str]:
    text = data.decode()
    lines = text.split("\n")
    if text.endswith("\n"):
        lines.pop()
    return [line.rstrip("\r") for line in lines]


def test_line_scan_exact_numbers_lines_across_partitions(spark, tmp_path):
    files = {}
    for name, eol in (("lf.txt", "\n"), ("crlf.txt", "\r\n")):
        lines = ["" if i % 97 == 0 else f"line {i} é✓ " + "x" * (i % 41) for i in range(1, 1201)]
        data = eol.join(lines).encode()  # no final newline
        (tmp_path / name).write_bytes(data)
        files[str(tmp_path / name)] = data
    empty = tmp_path / "empty.txt"
    empty.write_bytes(b"")

    with small_splits(spark):
        for path in files:
            assert spark.read.text(path).rdd.getNumPartitions() >= 3
        df = line_scan(spark, list(files))
        assert df.schema == RECDATA_SCHEMA
        rows = df.collect()
        assert line_scan(spark, str(empty)).count() == 0
    for path, data in files.items():
        got = sorted((r.recId, r.rec) for r in rows if r.fileName == path)
        expected = _expected_lines(data)
        assert [i for i, _ in got] == list(range(1, len(expected) + 1))
        assert [rec for _, rec in got] == expected
    assert len(rows) == sum(len(_expected_lines(d)) for d in files.values())


def test_line_scan_exact_runs_in_jvm(spark, tmp_path):
    """Exact numbering plans as a text FileScan with no Python RDD, and a
    one-partition file is numbered without running a Spark job."""
    small = tmp_path / "small.txt"
    small.write_bytes(b"a\r\nb\n\nc")
    big = tmp_path / "big.txt"
    big.write_bytes(b"".join(b"row %d\n" % i for i in range(4000)))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("line-scan-one-partition", "line_scan on one partition")
        df = line_scan(spark, str(small))
        assert tracker.getJobIdsForGroup("line-scan-one-partition") == []
        with small_splits(spark):
            sc.setJobGroup("line-scan-split", "line_scan on a split file")
            split_df = line_scan(spark, str(big))
            assert tracker.getJobIdsForGroup("line-scan-split") != []
            plan = split_df._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [(r.rec, r.recId) for r in df.orderBy("recId").collect()] == [
        ("a", 1), ("b", 2), ("", 3), ("c", 4)
    ]
    assert "FileScan text" in plan
    assert "Scan ExistingRDD" not in plan
    assert "PythonRDD" not in plan


def test_ledger_failed_rec_ids_across_partitions(spark, tmp_path):
    """FAILED BatchStatus rows carry the file's own line numbers when the CSV
    is read as several scan partitions."""
    bad_at = {1, 613, 1337, 2048, 3000}
    lines = [
        f"K{i:05d},V{i},extra" if i in bad_at else f"K{i:05d},V{i}"
        for i in range(1, 3001)
    ]
    p = tmp_path / "split.csv"
    p.write_bytes(("\r\n".join(lines) + "\r\n").encode())
    job = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="key, value"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    with small_splits(spark):
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= 3
        res = run_ingest(spark, job)
    assert res.counts == {
        "totalRecordCount": 3000,
        "successCount": 3000 - len(bad_at),
        "failureCount": len(bad_at),
    }
    failed = (
        read_status(spark, job.ledger_dir)
        .where("statusText = 'FAILED'")
        .select("fileRecordData.recId", "fileRecordData.rec")
        .collect()
    )
    assert {r.recId for r in failed} == bad_at
    assert all(r.rec == lines[r.recId - 1] for r in failed)


def test_json_lines_source_roundtrip(spark, tmp_path):
    """JSON-lines source with explicit schema (SURVEY.md §2.2 sources row):
    write JSON records, read back typed, corrupt line routed not fatal."""
    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"k": "a", "n": 1.5, "ok": true}\n'
        '{"k": "b", "n": 2.5, "ok": false}\n'
        "this is not json\n"
    )
    df = (
        spark.read.schema("k string, n double, ok boolean, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {(r["k"], r["n"], r["ok"]) for r in good} == {("a", 1.5, True), ("b", 2.5, False)}
    assert len(bad) == 1


def test_row_at_a_time_udf_matches_vectorized_path(spark):
    """The plain @udf slow path exists and agrees with the batch coercion —
    documented as the LAST resort (SCALE.md: Python never in hot loops)."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from oe_batch_processing_spark.functions.coercion import js_number

    @F.udf(returnType=DoubleType())
    def js_number_udf(s):
        v = js_number(s)
        return None if math.isnan(v) else v

    df = spark.createDataFrame(
        [("1e3",), ("0x10",), ("",), ("nope",)], "raw string"
    ).select("raw", js_number_udf("raw").alias("n"))
    got = {(r["raw"], r["n"]) for r in df.collect()}
    assert got == {("1e3", 1000.0), ("0x10", 16.0), ("", 0.0), ("nope", None)}


def test_multimodal_decode_dispatch_and_residual_limits():
    """decode_image dispatches to the real hand-written decoders for every
    supported container (JPEG/PNG/BMP/netpbm/TIFF/WebP-VP8L since round 9)
    and fails loudly — NotImplementedError only for unknown containers,
    ValueError naming the feature for in-container unsupported subsets."""
    import numpy as np
    import pytest

    from oe_batch_processing_spark.operators.multimodal import decode_image
    from oe_batch_processing_spark.operators.multimodal_jpeg import encode_jpeg
    from oe_batch_processing_spark.operators.multimodal_webp import (
        encode_webp_vp8l,
    )

    raster = np.full((8, 8), 77, dtype=np.uint8)
    w, h, ch, a, _rc = decode_image(encode_jpeg(raster.tobytes(), 8, 8, 1))
    assert (w, h, ch) == (8, 8, 1) and np.array_equal(a, raster)

    gray = bytes(range(80))
    assert decode_image(encode_webp_vp8l(gray, 10, 8))[2] == gray

    with pytest.raises(ValueError, match="lossless"):
        decode_image(b"RIFF\x08\x00\x00\x00WEBPVP8 ")  # lossy VP8 chunk
    with pytest.raises(NotImplementedError, match="unknown image container"):
        decode_image(b"????not an image")


def test_multimodal_resize_real_for_p5_stubbed_for_webp():
    """Round 9: resize is REAL — exact integer box filter (resize_box, with
    its own unit battery in test_multimodal_tiff.py) and an end-to-end
    encoded path for P5 netpbm; only WebP-style undecodable payloads still
    raise."""
    import pytest

    from oe_batch_processing_spark.operators.multimodal import (
        resize_box,
        resize_image,
    )

    raster = bytes((i * 13) % 256 for i in range(64))
    out, ow, oh = resize_box(raster, 8, 8, 2)
    assert (ow, oh) == (4, 4)
    assert resize_image(b"P5 8 8 255\n" + raster, 2) == b"P5 4 4 255\n" + out
    with pytest.raises(NotImplementedError, match="WebP"):
        resize_image(b"RIFF....WEBP", 2)


def test_multimodal_frame_sample_covers_payload(spark, sf_dir):
    """Sampled frame indices must be stride-aligned and frame lengths must
    tile the payload (last frame may be short)."""
    from oe_batch_processing_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        multimodal_frame_sample,
    )

    rows = multimodal_frame_sample(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["frame_idx"] % FRAME_STRIDE == 0
        assert 1 <= r["frame_len"] <= FRAME_BYTES


def test_rle_codec_roundtrip_properties():
    """RLE encode/decode inverse — including >255-byte runs (the cap split
    the parquet corpus never exercises) and empty/degenerate payloads."""
    import numpy as np

    from oe_batch_processing_spark.operators.multimodal import (
        rle_decode,
        rle_encode,
    )

    cases = [
        b"",
        b"\x00",
        b"a" * 1000,               # single run split into 255+255+255+235
        b"ab" * 300,               # alternating, no compression
        bytes(range(256)) * 3,
        b"x" * 255 + b"y" + b"x" * 510,  # runs exactly at the cap
        np.random.RandomState(7).bytes(4096),
    ]
    for b in cases:
        counts, vals = rle_encode(b)
        assert rle_decode(counts, vals) == b
        assert counts.size == vals.size
        assert (counts > 0).all() and (counts <= 255).all()
        # adjacent equal values only at cap boundaries (count == 255)
        same = vals[1:] == vals[:-1]
        assert (counts[:-1][same] == 255).all()


def test_parse_netpbm_grammar():
    """Header tokenizer handles the real netpbm grammar: multi-whitespace,
    comments between any tokens, single separator byte before raster, and
    raster bytes that look like whitespace are NOT consumed as header."""
    from oe_batch_processing_spark.operators.multimodal import parse_netpbm

    raster = bytes(range(6))
    assert parse_netpbm(b"P5\n3 2\n255\n" + raster) == ("P5", 3, 2, 255, raster)
    # comments + arbitrary whitespace between tokens
    got = parse_netpbm(b"P5 # c1\n # c2\n 3\t2 # c3\n 255\n" + raster)
    assert got == ("P5", 3, 2, 255, raster)
    # raster starting with a whitespace-valued byte (0x20) stays in raster
    r2 = b"\x20" * 6
    assert parse_netpbm(b"P5\n3 2\n255\n" + r2)[4] == r2
    # P6 consumes 3 bytes/pixel
    r3 = bytes(range(18))
    assert parse_netpbm(b"P6\n3 2\n255\n" + r3) == ("P6", 3, 2, 255, r3)
    import pytest

    with pytest.raises(ValueError):
        parse_netpbm(b"P4\n3 2\n255\n" + raster)  # unsupported magic
    with pytest.raises(ValueError):
        parse_netpbm(b"P5\n3 2\n255\n" + raster[:-1])  # short raster
    with pytest.raises(ValueError):
        parse_netpbm(b"P5\nx 2\n255\n" + raster)  # non-integer dim


def test_parse_wav_grammar():
    """RIFF walker: chunk order independence, odd-size pad-byte skip,
    size validation, PCM requirement."""
    import struct

    import pytest

    from oe_batch_processing_spark.operators.multimodal import parse_wav

    def chunk(cid, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad

    fmt = chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
    data = chunk(b"data", b"\x01\x00\xff\xff")
    lst = chunk(b"LIST", b"INFOxyz")  # odd size -> pad byte
    def wav(body):
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    assert parse_wav(wav(fmt + data)) == (1, 8000, b"\x01\x00\xff\xff")
    # unknown odd-length chunk between fmt and data is skipped w/ pad
    assert parse_wav(wav(fmt + lst + data))[2] == b"\x01\x00\xff\xff"
    # data before fmt still resolves
    assert parse_wav(wav(data + fmt))[1] == 8000
    with pytest.raises(ValueError):
        parse_wav(b"RIFX" + b"\x00" * 20)  # bad magic
    with pytest.raises(ValueError):
        parse_wav(wav(fmt))  # no data chunk
    bad = wav(chunk(b"fmt ", struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)) + data)
    with pytest.raises(ValueError):
        parse_wav(bad)  # non-PCM format tag


def test_parse_tar_members_roundtrip():
    """Hand-written USTAR parser agrees with the stdlib encoder, detects
    checksum corruption, and handles multi-member block advance."""
    import io
    import tarfile as tf

    from oe_batch_processing_spark.operators.multimodal import parse_tar_members

    buf = io.BytesIO()
    bodies = {f"m{i}.txt": bytes([65 + i]) * (500 + i * 13) for i in range(4)}
    with tf.open(fileobj=buf, mode="w", format=tf.USTAR_FORMAT) as tar:
        for name, data in bodies.items():
            info = tf.TarInfo(name=name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    members = parse_tar_members(raw)
    assert [(m[0], m[1]) for m in members] == [
        (n, len(d)) for n, d in bodies.items()
    ]
    assert all(m[3] for m in members)  # checksums verify
    assert members[2][2] == bodies["m2.txt"]
    # corrupt one payload byte INSIDE the first member: checksum of its
    # header still ok, content changed
    corrupted = bytearray(raw)
    corrupted[512] ^= 0xFF
    assert parse_tar_members(bytes(corrupted))[0][2] != bodies["m0.txt"]
    # corrupt a header byte: that member's checksum flag flips
    corrupted = bytearray(raw)
    corrupted[0] ^= 0x01
    assert not parse_tar_members(bytes(corrupted))[0][3]


def test_parse_gzip_grammar():
    """RFC 1952 walker: stdlib-gzip interop, FNAME/FEXTRA/FCOMMENT header
    fields, raw-DEFLATE body, trailer verification and corruption."""
    import gzip as _gzip
    import struct
    import zlib

    import pytest

    from oe_batch_processing_spark.operators.multimodal import parse_gzip

    data = b"hello gzip container" * 20
    # stdlib-produced member parses (interop, no FNAME)
    fname, decoded, ok = parse_gzip(_gzip.compress(data, mtime=0))
    assert (fname, decoded, ok) == (None, data, True)

    def member(data, flg=0, extra=b""):
        hdr = b"\x1f\x8b\x08" + bytes([flg]) + b"\x00" * 4 + b"\x00\xff" + extra
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        body = co.compress(data) + co.flush()
        return hdr + body + struct.pack(
            "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF
        )

    # FNAME + FCOMMENT both present and both skipped/parsed
    m = member(data, flg=8 | 16, extra=b"a.txt\x00a comment\x00")
    assert parse_gzip(m)[:2] == ("a.txt", data)
    # corrupted trailer CRC flips crc_ok but still decodes
    bad = bytearray(member(data))
    bad[-5] ^= 0xFF
    assert parse_gzip(bytes(bad))[2] is False
    with pytest.raises(ValueError):
        parse_gzip(b"\x1f\x8c" + b"\x00" * 20)  # bad magic


def test_parse_zip_central_directory():
    """ZIP walker vs the stdlib encoder: entry fields, EOCD-with-comment,
    local-header cross-check, corruption detection."""
    import io
    import zipfile as zf
    import zlib

    import pytest

    from oe_batch_processing_spark.operators.multimodal import (
        parse_zip_central_directory,
    )

    buf = io.BytesIO()
    bodies = {f"m{i}.txt": bytes([97 + i]) * (100 + i * 37) for i in range(3)}
    # adversarial member: payload EMBEDS a local-header signature — a
    # signature-scanning extractor would misparse the member after it
    # (round-6 advice); the central-directory offset walk must not care.
    bodies["trap.bin"] = b"xx" + b"PK\x03\x04" + b"\x00" * 40 + b"tail"
    with zf.ZipFile(buf, "w", compression=zf.ZIP_STORED) as z:
        for name, data in bodies.items():
            z.writestr(zf.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)
        z.comment = b"trailing archive comment"  # EOCD not at EOF-22
    raw = buf.getvalue()
    members = parse_zip_central_directory(raw)
    assert [(m[0], m[2]) for m in members] == [(n, len(d)) for n, d in bodies.items()]
    assert all(m[4] for m in members)  # local-header back-references verify
    assert members[1][3] == (zlib.crc32(bodies["m1.txt"]) & 0xFFFFFFFF)
    # payload located by the central directory's offset, not by scanning:
    # every member's bytes (incl. the one AFTER the embedded signature)
    # slice out exactly and re-verify against their stored CRC
    for (name, csize, usize, crc, ok, data_start) in members:
        data = raw[data_start : data_start + csize]
        assert data == bodies[name]
        assert (zlib.crc32(data) & 0xFFFFFFFF) == crc
    # corrupt a local-header signature: that member's offset_ok flips
    corrupted = bytearray(raw)
    # find second local header and break it
    second = raw.find(b"PK\x03\x04", 4)
    corrupted[second] ^= 0x01
    assert not parse_zip_central_directory(bytes(corrupted))[1][4]
    with pytest.raises(ValueError):
        parse_zip_central_directory(b"not a zip at all")


def test_parse_png_roundtrip_and_corruption():
    """PNG codec pair: encode_png/parse_png round-trip for both color
    types (exercising every filter predictor and multi-IDAT reassembly),
    plus the corruption battery the other format walkers carry."""
    import struct
    import zlib

    import pytest

    from oe_batch_processing_spark.operators.multimodal import (
        encode_png,
        parse_png,
    )

    # gray 7x6 (h>4 => all five filters used) and rgb 5x9
    for w, h, ch in ((7, 6, 1), (5, 9, 3)):
        raster = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
        png = encode_png(raster, w, h, ch)
        assert png.count(b"IDAT") == 2  # multi-IDAT reassembly exercised
        w2, h2, color, back, mask = parse_png(png)
        assert (w2, h2) == (w, h)
        assert color == (0 if ch == 1 else 2)
        assert back == raster
        assert mask == 0b11111  # None/Sub/Up/Average/Paeth all ran

    png = encode_png(bytes(range(60)), 4, 5, 3)
    with pytest.raises(ValueError, match="signature"):
        parse_png(b"\x89PNJ" + png[4:])
    # flip one byte inside the first IDAT payload: CRC must catch it
    idat = png.find(b"IDAT")
    bad = bytearray(png)
    bad[idat + 6] ^= 0x01
    with pytest.raises(ValueError, match="crc"):
        parse_png(bytes(bad))
    # unsupported bit depth in IHDR (fix up the CRC so only IHDR trips)
    bad = bytearray(png)
    bad[8 + 8 + 8] = 16  # depth byte inside IHDR payload
    ihdr_payload = bytes(bad[16:29])
    bad[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_payload) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="IHDR"):
        parse_png(bytes(bad))
    # truncation
    with pytest.raises(ValueError):
        parse_png(png[: len(png) - 10])


def test_parse_bmp_roundtrip_and_corruption():
    """BMP codec pair: bottom-up un-flip, stride padding, BGR order, and
    the 8-bpp identity-grayscale palette all round-trip; corruption battery
    mirrors the other format walkers."""
    import struct

    import pytest

    from oe_batch_processing_spark.operators.multimodal import (
        encode_bmp,
        parse_bmp,
    )

    # w=5, ch=3 -> row bytes 15, stride 16 (padding exercised); gray w=6
    for w, h, ch in ((5, 4, 3), (6, 3, 1)):
        raster = bytes((i * 53 + 7) % 256 for i in range(w * h * ch))
        bmp = encode_bmp(raster, w, h, ch)
        w2, h2, ch2, back, off = parse_bmp(bmp)
        assert (w2, h2, ch2) == (w, h, ch)
        assert back == raster  # BGR swap + row flip undone exactly
        assert off == (54 + 1024 if ch == 1 else 54)

    bmp = encode_bmp(bytes(range(60)), 5, 4, 3)
    with pytest.raises(ValueError, match="magic"):
        parse_bmp(b"BX" + bmp[2:])
    with pytest.raises(ValueError, match="size"):
        parse_bmp(bmp + b"junk")
    bad = bytearray(bmp)
    bad[28] = 16  # bpp field -> unsupported
    with pytest.raises(ValueError, match="bpp"):
        parse_bmp(bytes(bad))
    # corrupt a palette entry in the 8-bpp form
    g = bytearray(encode_bmp(bytes(18), 6, 3, 1))
    g[54 + 4 * 10] = 99  # entry 10 blue component no longer 10
    with pytest.raises(ValueError, match="palette"):
        parse_bmp(bytes(g))
    # truncation trips the file-size cross-check before the raster bound
    with pytest.raises(ValueError, match="size field mismatch"):
        parse_bmp(encode_bmp(bytes(60), 5, 4, 3)[:-8])


def test_mulaw_known_vectors_and_properties():
    """G.711 spec anchors: +0 encodes 0xFF, the -0/-1 region encodes
    0x7F, the clipped maximum encodes 0x80; plus idempotence (a second
    compand pass is lossless) and the per-segment error bound."""
    import numpy as np

    from oe_batch_processing_spark.operators.multimodal import (
        mulaw_decode,
        mulaw_encode,
    )

    assert mulaw_encode(np.array([0]))[0] == 0xFF
    assert mulaw_encode(np.array([-1]))[0] == 0x7F
    assert mulaw_encode(np.array([32635]))[0] == 0x80
    assert mulaw_encode(np.array([-32768]))[0] == 0x00  # clipped negative

    rng = np.random.RandomState(9)
    s = rng.randint(-32768, 32768, 20000).astype(np.int64)
    codes = mulaw_encode(s)
    dec = mulaw_decode(codes)
    # second pass through the codec is exactly lossless, modulo the
    # spec's one ambiguity: negative-zero codes (0x7F region) decode to
    # 0, which re-encodes as positive zero 0xFF
    recoded = mulaw_encode(dec)
    nz = dec != 0
    assert np.array_equal(recoded[nz], codes[nz])
    assert np.all(recoded[~nz] == 0xFF)
    assert np.array_equal(mulaw_decode(recoded), dec)
    # companding error bounded by half the top-segment step (+ clip room)
    clipped = np.abs(s) > 32635
    assert np.abs(dec[~clipped] - s[~clipped]).max() <= 512
    assert np.abs(dec - s).max() <= 1024
    # decode never exceeds the representable range
    assert np.abs(dec).max() <= 32635 + 132


def test_adpcm_codec_properties():
    """IMA ADPCM: encode/decode mirror each other's state walk; the codec
    tracks slow signals closely (adaptive step), the wire stream is the
    4:1 two-nibbles-per-byte format, and the decoded signal is bounded."""
    import numpy as np

    from oe_batch_processing_spark.operators.multimodal import (
        adpcm_decode,
        adpcm_encode,
    )

    # smooth ramp: after the step adapts, tracking error is small
    t = np.arange(2000)
    sig = (1000 * np.sin(t / 50.0)).astype(np.int64)
    stream = adpcm_encode(sig)
    assert len(stream) == 1000  # 4:1 vs 16-bit input
    dec = np.array(adpcm_decode(stream, len(sig)))
    assert np.abs(dec[200:] - sig[200:]).max() <= 64  # post-adaptation
    assert dec.max() <= 32767 and dec.min() >= -32768

    # step response: predictor converges to a constant level
    const = np.full(300, 12345, dtype=np.int64)
    dec2 = np.array(adpcm_decode(adpcm_encode(const), 300))
    assert abs(int(dec2[-1]) - 12345) <= 8

    # white noise stays decodable and clamped (worst case for ADPCM)
    rng = np.random.RandomState(31)
    noise = rng.randint(-32768, 32768, 999).astype(np.int64)
    s3 = adpcm_encode(noise)
    assert len(s3) == 500  # odd count pads a nibble
    dec3 = np.array(adpcm_decode(s3, 999))
    assert dec3.max() <= 32767 and dec3.min() >= -32768  # int16 clamp
