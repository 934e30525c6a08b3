"""The composed flagship pipeline: parse -> enrich -> package.

This is the decorator Lambda's end-to-end query (decorator/index.js:243-262,
SURVEY §3.2) as one declarative Spark plan:

    firehose records
      -> parse_records        (b64 decode, tokenize, cast, validity split)
      -> join_eni             (broadcast left join + direction)
      -> join_geo             (prefix-bucketed broadcast range join + defaults)
      -> package_records      (Ok/ProcessingFailed tagging + b64(json) payload)

Error rows flow through untouched (NULL flow fields) and come out tagged
ProcessingFailed — record-level dead-lettering, never batch failure
(the reference's June-2017 fix made geo degrade-don't-fail; here nothing in
the plan can fail a batch on bad data).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .enrich import eni_joiner, geo_joiner
from .package import package_records, packager
from .parse import lines_parser, parse_records


def enricher(geo_dim: DataFrame, geolocation_enabled: bool = True,
             geo_dim_is_disjoint: bool = False
             ) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Build the ENI + geo enrichment once; the returned function enriches
    a parsed DataFrame against an ENI dimension."""
    join_eni = eni_joiner()
    join_geo = geo_joiner(geo_dim, geolocation_enabled=geolocation_enabled,
                          dim_is_disjoint=geo_dim_is_disjoint)
    return lambda parsed, eni_dim: join_geo(join_eni(parsed, eni_dim))


def enrich_flow_logs(parsed: DataFrame, eni_dim: DataFrame, geo_dim: DataFrame,
                     geolocation_enabled: bool = True,
                     geo_dim_is_disjoint: bool = False) -> DataFrame:
    """Parse output -> fully enriched records (ENRICHED_SCHEMA columns +
    recordId/raw/error carried through)."""
    return enricher(geo_dim, geolocation_enabled, geo_dim_is_disjoint)(parsed, eni_dim)


def decorate(records: DataFrame, eni_dim: DataFrame, geo_dim: DataFrame,
             geolocation_enabled: bool = True) -> DataFrame:
    """Full decorator parity: Firehose records in, (recordId, result, data) out."""
    parsed = parse_records(records)
    enriched = enrich_flow_logs(parsed, eni_dim, geo_dim, geolocation_enabled)
    return package_records(enriched)


def lines_decorator(geo_dim: DataFrame, line_col: str = "value",
                    geolocation_enabled: bool = True,
                    unique_ids: bool = False,
                    geo_dim_is_disjoint: bool = False
                    ) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Build the :func:`decorate_lines` plan once: every Column expression
    of parse, enrichment and packaging, plus the bucketed geo dimension.
    The returned ``decorate(lines, eni_dim)`` only issues the DataFrame
    calls (selects and the two broadcast joins), so a stream builds this
    once and applies it to each micro-batch with that batch's ENI dim."""
    parse = lines_parser(line_col, unique_ids)
    enrich = enricher(geo_dim, geolocation_enabled, geo_dim_is_disjoint)
    package = packager()

    def decorate(lines: DataFrame, eni_dim: DataFrame) -> DataFrame:
        return package(enrich(parse(lines), eni_dim))

    return decorate


def decorate_lines(lines: DataFrame, eni_dim: DataFrame, geo_dim: DataFrame,
                   line_col: str = "value",
                   geolocation_enabled: bool = True,
                   unique_ids: bool = False,
                   geo_dim_is_disjoint: bool = False) -> DataFrame:
    """Same pipeline over bare text lines (batch/file-source entry).

    ``unique_ids=True`` disambiguates byte-identical lines (see
    parse.parse_lines) — required when the sink dedupes on recordId.
    ``geo_dim_is_disjoint=True`` skips the de-overlap sweep for callers that
    pre-flattened the geo dimension (streaming reuse across micro-batches).
    """
    return lines_decorator(geo_dim, line_col, geolocation_enabled, unique_ids,
                           geo_dim_is_disjoint)(lines, eni_dim)
