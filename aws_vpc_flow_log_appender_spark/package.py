"""Package stage: Ok/ProcessingFailed tagging + JSON/base64 payload + union.

Reference behavior (decorator/index.js:206-234): every record — parsed or
failed — is re-emitted keyed by recordId with result 'Ok' or
'ProcessingFailed'; Ok payloads are base64(JSON(enriched record)), failed
payloads carry the original data through unchanged. Order is irrelevant
(recordId-keyed), so the ok/failed branches are a single tagged projection
here, not two scans + union.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import ENRICHED_COLUMNS


def unchunked_base64(col: Column) -> Column:
    """Spark's base64() is MIME-chunked (CRLF every 76 chars); the reference's
    Buffer.toString('base64') is not — strip the line breaks so payloads are
    byte-comparable with unchunked encoders. A literal ``replace``: the
    CRLF needs no regex engine."""
    return F.replace(F.base64(col), F.lit("\r\n"), F.lit(""))


def packager() -> Callable[[DataFrame], DataFrame]:
    """Build the :func:`package_records` projection once; the returned
    function packages any enriched DataFrame (e.g. each micro-batch)."""
    payload_ok = unchunked_base64(
        F.encode(
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in ENRICHED_COLUMNS])),
            "utf-8",
        )
    )
    payload_failed = F.col("__orig_b64")
    failed = F.col("error")
    out = [
        F.col("recordId"),
        F.when(failed, F.lit("ProcessingFailed")).otherwise(F.lit("Ok")).alias("result"),
        F.when(failed, payload_failed).otherwise(payload_ok).alias("data"),
    ]
    return lambda enriched: enriched.select(*out)


def package_records(enriched: DataFrame) -> DataFrame:
    """-> (recordId, result, data) exactly like packageRecords
    (decorator/index.js:206-234).

    Ok rows: data = base64(to_json(enriched struct)) (decorator/index.js:222).
    Failed rows: the ORIGINAL payload passes through byte-for-byte via the
    ``__orig_b64`` column parse_records preserved (decorator/index.js:214-220
    re-emits the untouched record.data; decoding+re-encoding would mangle
    non-UTF-8 originals).
    """
    return packager()(enriched)


def result_counts(packaged: DataFrame) -> DataFrame:
    """The success/failure counters the reference logs per batch
    (decorator/index.js:208-232) as a distributed aggregate."""
    return packaged.groupBy("result").agg(F.count("*").alias("n"))
