"""Parse stage: decode -> tokenize -> cast -> validity split.

Reference behavior (decorator/index.js:100-139): each Firehose record's base64
payload is decoded, matched against the flow-log v2 regex, and either turned
into a typed record with a processing-time ``@timestamp`` or wrapped as an
error record (record-level dead-lettering — a non-matching line is *kept*, not
dropped, and later emitted with result ProcessingFailed).

Spark-first design: one ``rlike`` validity predicate + one ``split`` +
positional ``getItem``/``cast`` — all built-in Column expressions, fully inside
whole-stage codegen; no UDFs, no per-row regex exec loop. The ``*_parser``
builders construct the projection once; ``parse_records`` / ``parse_lines``
build and apply it in one call, a stream builds it once and applies it to
every micro-batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import FLOW_FIELDS, FLOW_LINE_PATTERN


def decode_base64_utf8(col: Column | str) -> Column:
    """base64 payload -> utf8 string (decorator/index.js:106).

    ``try_to_binary``, not ``unbase64``: under Spark 4 ANSI defaults a
    single malformed base64 payload in ``unbase64`` raises and kills the
    whole batch — a corrupt record must instead decode to NULL and route
    to the dead-letter path like every other per-record failure
    (code-review r6)."""
    return F.try_to_binary(
        F.col(col) if isinstance(col, str) else col, F.lit("base64")
    ).cast("string")


def is_valid_flow_line(col: Column | str) -> Column:
    """Validity predicate equivalent to the regex match at decorator/index.js:107."""
    return F.col(col).rlike(FLOW_LINE_PATTERN) if isinstance(col, str) else col.rlike(FLOW_LINE_PATTERN)


def typed_flow_fields(toks: Column) -> list[Column]:
    """The 14 typed columns of one tokenized line.

    ``toks`` is the line's ``split(line, " ")`` array; each field is a
    positional ``getItem`` + cast (decorator/index.js:107-126 does one regex
    exec + 14 Number()/string captures). On invalid lines the casts may
    produce NULLs — callers gate on :func:`is_valid_flow_line`.
    """
    cols = []
    for i, (name, dtype) in enumerate(FLOW_FIELDS):
        c = toks.getItem(i)
        if dtype.typeName() == "long":
            # try_cast, not cast: FLOW_LINE_PATTERN's \d+ is unbounded, so
            # a regex-VALID line whose numeric token overflows int64 must
            # degrade to a NULL field (the reference's Number() yields a
            # float and the record flows through) — under ANSI a plain cast
            # would crash the whole batch on one such line (code-review r6)
            c = c.try_cast("long")
        cols.append(c.alias(name))
    return cols


def records_parser(data_col: str = "data", base64_encoded: bool = True
                   ) -> Callable[[DataFrame], DataFrame]:
    """Build the :func:`parse_records` projection once; the returned function
    applies it to any records DataFrame.

    Every expression is name-based, so one parser serves every micro-batch
    of a stream without rebuilding its Column expressions per batch.
    """
    if base64_encoded:
        raw = decode_base64_utf8(data_col)
        # preserve the ORIGINAL base64 payload for dead-lettering: re-encoding
        # the lossily-decoded string would corrupt non-UTF-8 originals
        # (the reference re-emits the untouched payload, decorator/index.js:214-220)
        orig = F.col(data_col)
    else:
        from .package import unchunked_base64

        raw = F.col(data_col)
        orig = unchunked_base64(F.encode(data_col, "utf-8"))
    # null-safe: a NULL payload gives rlike(NULL)=NULL, and NULL `error`
    # would be treated as false downstream, misrouting the record to 'Ok'
    valid = F.coalesce(is_valid_flow_line(raw), F.lit(False))
    # Pin `raw`, the regex validity and the token array to ONE evaluation
    # per record (optimization r10, guide §2.3/§7.2): as a flat projection,
    # Catalyst pushes the downstream validity filter below this projection
    # and re-inlines `raw` into every consumer — the line was built twice,
    # the 14-group validity regex ran up to four times per record, and each
    # of the 14 typed fields re-ran its own split of the line. A one-element
    # explode(array(struct(raw, valid, toks))) is row-preserving and acts
    # as a projection barrier: predicates referencing the generator's
    # output cannot be pushed below it, so the line is materialized once,
    # tokenized once, and the regex verdict is computed once and reused as
    # a plain column.
    # (`__orig_b64` stays OUTSIDE the barrier: it is only consumed by the
    # dead-letter packaging path, and leaving it a flat projection lets
    # column pruning drop its base64 re-encode for every query that never
    # reads it.)
    barrier = F.explode(
        F.array(F.struct(raw.alias("raw"), valid.alias("valid"),
                         F.split(raw, " ").alias("toks")))
    ).alias("__rv")
    validc = F.col("__rv.valid")
    out = [
        F.col("recordId"),
        F.col("__rv.raw").alias("raw"),
        orig.alias("__orig_b64"),
        (~validc).alias("error"),
        F.when(validc, F.current_timestamp()).alias("@timestamp"),
        *[
            F.when(validc, c).alias(name)
            for c, (name, _) in zip(typed_flow_fields(F.col("__rv.toks")),
                                    FLOW_FIELDS)
        ],
    ]

    def parse(records: DataFrame) -> DataFrame:
        return records.select("*", barrier).select(*out)

    return parse


def parse_records(records: DataFrame, data_col: str = "data",
                  base64_encoded: bool = True) -> DataFrame:
    """Firehose records -> parsed rows with error routing.

    Input: any DataFrame with a ``recordId`` column and a payload column.
    Output columns: ``recordId``, ``raw`` (decoded line), ``error`` (bool),
    ``@timestamp`` and the 14 typed flow fields (NULL when error).

    Mirrors extractRecords (decorator/index.js:100-139): valid rows become
    typed records, invalid rows carry the raw payload with ``error=true``.
    Implemented as one projection (no per-branch scans): the validity predicate
    is computed once and the typed columns are NULL-masked by it.
    """
    return records_parser(data_col, base64_encoded)(records)


def lines_parser(line_col: str = "value", unique_ids: bool = False
                 ) -> Callable[[DataFrame], DataFrame]:
    """Build the :func:`parse_lines` projection once; the returned function
    applies it to any DataFrame of lines (e.g. each micro-batch)."""
    line = F.col(line_col)
    if unique_ids:
        from pyspark.sql import Window as W

        w = W.partitionBy(line_col).orderBy(F.monotonically_increasing_id())
        record_id = F.concat(
            F.sha2(line, 256), F.lit("-"), F.row_number().over(w).cast("string")
        )
    else:
        record_id = F.sha2(line, 256)
    framed = [record_id.alias("recordId"), line.alias("data")]
    parse = records_parser("data", base64_encoded=False)

    def parse_framed(lines: DataFrame) -> DataFrame:
        return parse(lines.select(*framed))

    return parse_framed


def parse_lines(lines: DataFrame, line_col: str = "value",
                unique_ids: bool = False) -> DataFrame:
    """Parse bare flow-log lines (no Firehose framing) — batch/file-source path.

    Adds a synthetic recordId from the line content so downstream packaging
    stays keyed (the reference's recordId comes from Firehose).

    ``unique_ids=False`` (default): recordId = sha256(line) — deterministic
    and cheap, but byte-identical lines COLLIDE (a recordId-keyed dedupe
    would drop legitimate repeats). ``unique_ids=True`` disambiguates
    repeats with a per-content occurrence index (costs one shuffle on the
    line content) — use for sinks that dedupe on recordId.
    """
    return lines_parser(line_col, unique_ids)(lines)
