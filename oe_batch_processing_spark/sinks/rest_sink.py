"""Rate-limited REST sink (reference O10/O8) — the one genuinely custom
physical operator in the engine (SURVEY.md §4: no Catalyst equivalent).

Reference semantics preserved:
  - per-record dynamic routing: ``modelAPI`` / ``method`` / ``headers`` in
    the payload override sink options override env defaults
    (lib/batchProcessing.js:610,632,647,655-663)
  - throttling: ``maxConcurrent`` in-flight requests with ``minTime`` ms
    spacing (Bottleneck config, lib/batchProcessing.js:87-91)
  - per-request timeout 10 s (lib/batchProcessing.js:671)
  - per-job expiration 25 s (Bottleneck ``expiration: 25000``,
    lib/batchProcessing.js:332): a wedged transport call — even one whose
    own timeout never fires — is abandoned at the expiration bound and the
    record becomes FAILED, so no single record can stall a partition
  - outcome: HTTP 200 => SUCCESS, anything else / transport error => FAILED
    (status derivation lib/batchProcessing.js:679)

Documented divergences (single-driver Spark context makes them moot):
  - no cookie jar (reference ``jar: true`` lib/batchProcessing.js:667-674):
    the urllib transport is stateless per request. Only sticky-session app
    servers notice; inject a ``transport`` wrapping requests.Session to
    restore the behavior.
  - no optimistic ``_version`` on BatchRun updates (reference PUTs with
    ``_version``, lib/batchProcessing.js:535-585): the parquet run ledger
    (sinks/ledger.py) has exactly one writer — the driver — so there is no
    concurrent-update race to guard.

Spark shape: the sink is a *transformation* ``rest_write(df) -> status_df``
implemented with ``mapInPandas`` — each partition runs a bounded thread pool
plus a token bucket, emits one status row per record, and the caller feeds
the status frame to the BatchStatus/BatchRun ledgers exactly like the native
path. Executing the HTTP calls inside the map keeps the whole pipeline one
Spark job with no driver round-trips.

Rate-limit scope: the bucket is per-partition, so the global rate is
``rate × num_partitions``. ``rate_domains=1`` (coalesce to one partition)
reproduces the reference's single-process global throttle exactly; at scale,
set per-partition budgets to target_rate / parallelism (documented
approximation, SURVEY.md §7 risk register).

The HTTP transport is injectable (any picklable callable) so tests run
without a live app server; the default uses urllib from the stdlib.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from oe_batch_processing_spark.sources.outcome import FAILED, FATAL, SUCCESS

# transport(url, method, headers, body_json) -> (status_code, error_or_None)
Transport = Callable[[str, str, dict, str | None], tuple[int, str | None]]


def urllib_transport(timeout_s: float = 10.0) -> Transport:
    """Default stdlib transport; 10 s timeout per the reference."""

    def send(url: str, method: str, headers: dict, body: str | None):
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            url,
            data=body.encode() if body is not None else None,
            method=method,
            headers={"Content-Type": "application/json", **headers},
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.status, None
        except urllib.error.HTTPError as e:
            return e.code, f"HTTP {e.code}: {e.reason}"
        except Exception as e:  # noqa: BLE001
            return 0, f"transport error: {e}"

    return send


@dataclass
class RestSinkOptions:
    app_base_url: str
    model_api: str | None = None
    method: str = "POST"
    headers: dict = field(default_factory=dict)
    max_concurrent: int = 80  # reference default, per rate domain
    min_time_ms: int = 20  # reference default spacing
    timeout_s: float = 10.0
    expiration_s: float | None = 25.0  # per-job kill bound (reference :332)
    rate_domains: int | None = None  # None = keep input partitioning
    access_token: str | None = None  # appended as ?access_token= (O14 parity)
    transport: Transport | None = None


class TokenBucket:
    """minTime-spaced admission: at most one launch per interval, matching
    Bottleneck's minTime semantics (not a burst bucket)."""

    def __init__(self, min_interval_s: float):
        self.min_interval = min_interval_s
        self.lock = threading.Lock()
        self.next_free = 0.0

    def acquire(self) -> None:
        with self.lock:
            now = time.monotonic()
            wait = self.next_free - now
            self.next_free = max(now, self.next_free) + self.min_interval
        if wait > 0:
            time.sleep(wait)


STATUS_SCHEMA = StructType(
    [
        StructField("fileName", StringType(), True),
        StructField("rec", StringType(), True),
        StructField("recId", LongType(), True),
        StructField("parsed_json", StringType(), True),
        StructField("statusText", StringType(), False),
        StructField("statusCode", IntegerType(), False),
        StructField("error", StringType(), True),
    ]
)


def _send_one(row: dict, opts: RestSinkOptions, transport: Transport, bucket: TokenBucket):
    payload = json.loads(row.get("parsed_json") or "{}")
    # precedence: payload > options (reference :610,632,647)
    model_api = payload.pop("modelAPI", None) or opts.model_api
    method = (payload.pop("method", None) or opts.method).upper()
    headers = {**opts.headers, **payload.pop("headers", {})}
    if not model_api:
        # missing modelAPI is the reference's FATAL example (:633-643)
        return FATAL, 0, "modelAPI not specified in payload or options"
    url = opts.app_base_url.rstrip("/") + "/" + model_api.lstrip("/")
    if opts.access_token:
        url += ("&" if "?" in url else "?") + "access_token=" + opts.access_token
    bucket.acquire()
    body = None if method == "GET" else json.dumps(payload)
    code, err = _call_with_expiration(
        transport, (url, method, headers, body), opts.expiration_s
    )
    status = SUCCESS if code == 200 and err is None else FAILED
    return status, code, err


def _call_with_expiration(
    transport: Transport, args: tuple, expiration_s: float | None
) -> tuple[int, str | None]:
    """Hard per-job bound (reference's 25 s Bottleneck expiration): the
    transport runs on a daemon thread and is abandoned at the deadline even
    if its own socket timeout never fires (e.g. a server trickling bytes).
    The job's clock starts AFTER throttle admission, matching Bottleneck
    (expiration bounds execution, not queue wait)."""
    if expiration_s is None:
        try:
            return transport(*args)
        except Exception as e:  # noqa: BLE001 — transport contract: no raise
            return 0, f"transport error: {e}"
    result: list[tuple[int, str | None]] = []

    def target() -> None:
        try:
            result.append(transport(*args))
        except Exception as e:  # noqa: BLE001
            result.append((0, f"transport error: {e}"))

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(expiration_s)
    if not result:
        return 0, f"job expired after {expiration_s:g}s (reference expiration)"
    return result[0]


def rest_write(parsed: DataFrame, opts: RestSinkOptions) -> DataFrame:
    """Send every record to the REST endpoint; returns the status frame
    (same shape the ledger writers consume). Lazy — materialized when the
    caller writes/collects the status frame, keeping sink + ledger one job."""
    df = parsed
    if opts.rate_domains:
        df = df.coalesce(opts.rate_domains)
    transport = opts.transport or urllib_transport(opts.timeout_s)

    def run(batches: Iterator) -> Iterator:
        import concurrent.futures

        import pandas as pd

        bucket = TokenBucket(opts.min_time_ms / 1000.0)
        pool = concurrent.futures.ThreadPoolExecutor(max_workers=opts.max_concurrent)
        try:
            for pdf in batches:
                rows = pdf.to_dict("records")
                results = list(
                    pool.map(lambda r: _send_one(r, opts, transport, bucket), rows)
                )
                out = pd.DataFrame(
                    {
                        "fileName": [r.get("fileName") for r in rows],
                        "rec": [r.get("rec") for r in rows],
                        "recId": [r.get("recId") for r in rows],
                        "parsed_json": [r.get("parsed_json") for r in rows],
                        "statusText": [s for s, _, _ in results],
                        "statusCode": [c for _, c, _ in results],
                        "error": pd.array([e for _, _, e in results], dtype="object"),
                    }
                )
                yield out
        finally:
            pool.shutdown(wait=False)

    return df.mapInPandas(run, schema=STATUS_SCHEMA)
