"""Session scoping: every session side effect a query makes goes through
``session.conf_overrides`` / ``session.scratch_dir``, and every query
leaves the session as it found it — confs and scratch dirs — on success
and on failure."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from oe_batch_processing_spark import registry
from oe_batch_processing_spark.session import conf_overrides, scratch_dir

SF_DIR = "/root/testdata/sf0.001"
UNSET_KEY = "spark.oebp.test.scoped"  # never set anywhere else


def _scratch_entries() -> set[str]:
    roots = {tempfile.gettempdir()}
    if os.path.isdir("/dev/shm"):
        roots.add("/dev/shm")
    return {
        os.path.join(root, name)
        for root in roots
        for name in os.listdir(root)
        if name.startswith("oebp-")
    }


def test_conf_overrides_restores_unset_and_set_keys(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(UNSET_KEY, None) is None
    with conf_overrides(spark, {UNSET_KEY: "x", "spark.sql.shuffle.partitions": "3"}):
        assert spark.conf.get(UNSET_KEY) == "x"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_conf_overrides_restores_when_body_raises(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with conf_overrides(spark, {UNSET_KEY: "x", "spark.sql.shuffle.partitions": "3"}):
            raise RuntimeError("boom")
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_scratch_dir_is_removed_on_exit_and_on_raise():
    with scratch_dir("oebp-test-") as path:
        assert os.path.isdir(path)
        assert os.path.basename(path).startswith("oebp-test-")
        open(os.path.join(path, "f"), "w").close()
    assert not os.path.exists(path)
    with pytest.raises(RuntimeError, match="boom"):
        with scratch_dir("oebp-test-") as path:
            open(os.path.join(path, "f"), "w").close()
            raise RuntimeError("boom")
    assert not os.path.exists(path)


def test_scratch_dir_goes_through_the_tempfile_attribute(monkeypatch, tmp_path):
    """Callers that relocate scratch swap ``tempfile.mkdtemp``; the helper
    must see the swap rather than a name bound at import time."""
    real = tempfile.mkdtemp
    monkeypatch.setattr(
        tempfile, "mkdtemp", lambda suffix=None, prefix=None, dir=None: real(suffix, prefix, str(tmp_path))
    )
    with scratch_dir("oebp-test-") as path:
        assert os.path.dirname(path) == str(tmp_path)
    assert not os.path.exists(path)


def test_failing_bounded_stream_leaves_no_checkpoint(spark):
    from oe_batch_processing_spark.streaming.event_windows import (
        events_stream,
        run_available_now,
    )

    @F.udf("long")
    def explode_on_row(v):
        raise ValueError("injected stream failure")

    before = _scratch_entries()
    stream = events_stream(spark, SF_DIR).select(explode_on_row("event_id").alias("x"))
    with pytest.raises(Exception, match="injected stream failure"):
        run_available_now(stream, "append")
    assert {p for p in _scratch_entries() - before if "oebp-ckpt-" in p} == set()


@pytest.mark.parametrize(
    "name",
    [
        "stream_tws_type_stats",
        "stream_split_leakage_gate",
        "stream_quality_classifier",
        "stream_foreachbatch_upsert",
        "graph_connected_components_star",
        "dedup_connected_components",
        "pyds_stream_synthetic",
    ],
)
def test_query_leaves_session_as_found(spark, name):
    import oe_batch_processing_spark.operators  # noqa: F401

    registry.apply_runtime_confs(spark)
    confs, scratch = dict(spark.conf.getAll), _scratch_entries()
    assert registry.QUERIES[name](spark, SF_DIR).count() > 0
    assert dict(spark.conf.getAll) == confs
    assert _scratch_entries() == scratch
