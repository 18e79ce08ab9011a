"""Layered engine configuration (reference O15).

The reference resolves each knob as env var > ``batch-config.json`` > default
(lib/batchProcessing.js:74-102; README.md:198-213). Same layering here for
the one knob the engine reads:

  - ``batchResultLogItems`` (env ``BATCH_RESULT_LOG_ITEMS``, a comma list):
    extra columns preserved in BatchStatus rows.

The REST throttle and routing values (``maxConcurrent``, ``minTime``,
``appBaseURL``, ``modelAPI``) live in ``sinks.rest_sink.RestSinkOptions``,
which is what the REST sink reads. The reference's queue bound and progress
cadence have no knob: Spark pulls partitions lazily, and
``plans.progress.ProgressReporter`` takes its interval as an argument.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    batch_result_log_items: list[str] = field(default_factory=list)

    @classmethod
    def load(
        cls, config_file: str | None = None, overrides: dict | None = None
    ) -> "EngineConfig":
        """Resolve env > config file > defaults (> explicit overrides last,
        for programmatic callers)."""
        values: dict = {}
        if config_file and os.path.exists(config_file):
            with open(config_file) as f:
                file_cfg = json.load(f)
            # snake_case form, or the reference's batch-config.json key
            for key in ("batch_result_log_items", "batchResultLogItems"):
                if key in file_cfg:
                    values["batch_result_log_items"] = file_cfg[key]
                    break
        raw = os.environ.get("BATCH_RESULT_LOG_ITEMS")
        if raw is not None:
            values["batch_result_log_items"] = [
                x.strip() for x in raw.split(",") if x.strip()
            ]
        values.update(overrides or {})
        return cls(**values)
