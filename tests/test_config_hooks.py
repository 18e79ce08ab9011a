"""Config layering (O15), lifecycle hooks (O13), progress reporter (O16)."""

from __future__ import annotations

import json

from oe_batch_processing_spark.config import EngineConfig
from oe_batch_processing_spark.engine import IngestJob, run_ingest
from oe_batch_processing_spark.plans.progress import ProgressReporter
from oe_batch_processing_spark.sources.csv_source import CsvOptions


def test_config_layering_env_over_file_over_default(tmp_path, monkeypatch):
    monkeypatch.delenv("BATCH_RESULT_LOG_ITEMS", raising=False)
    cfg_file = tmp_path / "batch-config.json"
    cfg_file.write_text(json.dumps({"batchResultLogItems": ["error.details"]}))
    # default
    assert EngineConfig.load().batch_result_log_items == []
    # file (camelCase key accepted, reference batch-config.json shape)
    assert EngineConfig.load(str(cfg_file)).batch_result_log_items == [
        "error.details"
    ]
    # env wins over file
    monkeypatch.setenv("BATCH_RESULT_LOG_ITEMS", "error.details, response.headers")
    cfg = EngineConfig.load(str(cfg_file))
    assert cfg.batch_result_log_items == ["error.details", "response.headers"]


def test_lifecycle_hooks_fire_in_order(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text("a,b\nc,d\n")
    events = []
    job = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="k1, k2"),
        on_start=lambda j: events.append(("start", j.file_path)),
        on_end=lambda run: events.append(("end", run.total_record_count)),
        on_each_result=lambda row: events.append(("result", row["statusText"])),
    )
    run_ingest(spark, job)
    assert events[0] == ("start", str(p))
    assert events[-1] == ("end", 2)
    assert [e for e in events if e[0] == "result"] == [("result", "SUCCESS")] * 2


def test_on_end_fires_even_on_fatal(spark, tmp_path):
    p = tmp_path / "h.csv"
    p.write_text("a,b\n")
    seen = []
    job = IngestJob(
        file_path=str(p),
        parser="csv",
        csv_options=CsvOptions(csv_headers="k, 9"),  # numeric header => FATAL
        on_end=lambda run: seen.append(run.error),
    )
    import pytest

    from oe_batch_processing_spark.sources.csv_source import CsvConfigError

    with pytest.raises(CsvConfigError):
        run_ingest(spark, job)
    assert len(seen) == 1 and "header" in seen[0]


def test_progress_reporter_emits_lines(spark):
    lines = []
    with ProgressReporter(spark, interval_ms=50, sink=lines.append):
        # a job slow enough to be observed by the 50ms poller
        spark.range(0, 20_000_000, 1, 64).selectExpr("sum(id)").collect()
    # at least one progress line mentioning a stage (timing-dependent but
    # 20M rows over 64 tasks comfortably spans several 50ms ticks)
    assert any("stage" in ln for ln in lines)
