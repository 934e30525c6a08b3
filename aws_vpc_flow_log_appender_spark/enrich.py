"""Enrich stage: ENI security-group join, direction, geolocation range join.

Reference behavior (decorator/index.js:163-197):
 - per-row nested-loop lookup of interface-id in the ENI mapping (J1, :167-173)
 - direction = destaddr == eni.ipAddress ? inbound : outbound (:170); rows with
   no ENI match get NO direction (stays NULL here)
 - geocode(srcaddr) skipped for RFC1918 sources or when disabled (:175-177)
 - geo fields appended with ''/0 defaults when no geo data (:182-190)

Spark-first design:
 - J1 -> broadcast LEFT OUTER equi join; deterministic-match discipline via
   a stable-ordered row_number on the build side (lodash.find returns the
   first match; see eni_joiner).
 - J2 (per-row HTTP geo lookup) -> a *data* join against a CIDR-range geo
   dimension: prefix-bucketed equi join + range filter, broadcast. At 100 TB
   the naive (ip BETWEEN start AND end) range join is O(n*m); bucketing by /16
   prefix makes it an equi join with a tiny residual filter and keeps the dim
   broadcastable (a real GeoIP table explodes to ~a few million bucket rows).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import ENI_DIM_SCHEMA

# RFC1918 predicate — replicates decorator/index.js:149-153 EXACTLY, including
# its quirk of classifying loopback 127/8 as "private" (SURVEY §2.2 P8).
RFC1918_PATTERN = (
    r"(^127\.)|(^10\.)|(^172\.1[6-9]\.)|(^172\.2[0-9]\.)|(^172\.3[0-1]\.)|(^192\.168\.)"
)


def is_rfc1918(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(RFC1918_PATTERN)


def ip_to_int(col: Column | str) -> Column:
    """Dotted-quad IPv4 -> uint32 as long, pure Column arithmetic (no UDF).

    try_cast per octet: the flow-line regex's address capture is an
    unbounded ``\\d+`` quad, so a regex-valid line can carry an octet that
    overflows int64 — under Spark 4 ANSI defaults a plain cast would crash
    the batch. Octets are additionally RANGE-CHECKED to 0..255: an address
    like '1.2.3.300' is regex-valid but its positional arithmetic would
    alias onto a DIFFERENT valid address's integer (1.2.4.44) and geolocate
    the row to a concrete wrong range, where the reference's geocoder gets
    no data and degrades to the ''/0 defaults (code-review r6) — any
    out-of-range or overflowing octet now yields NULL and falls into the
    geo-miss path."""
    c = F.col(col) if isinstance(col, str) else col
    return octets_to_int(F.split(c, r"\."))


def octets_to_int(octets: Column) -> Column:
    """:func:`ip_to_int` over an already-split octet array (NULL when any of
    the 4 octets is missing, overflows or lies outside 0..255)."""
    octs = [octets.getItem(i).try_cast("long") for i in range(4)]
    valid = None
    for oc in octs:
        ok = oc.isNotNull() & (oc >= 0) & (oc <= 255)
        valid = ok if valid is None else (valid & ok)
    return F.when(
        valid,
        octs[0] * F.lit(16777216) + octs[1] * F.lit(65536)
        + octs[2] * F.lit(256) + octs[3],
    )


def eni_joiner() -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Build the :func:`join_eni` expressions once; the returned function
    joins any parsed DataFrame against any ENI dimension (ENI_DIM_SCHEMA
    columns), e.g. a stream's per-batch refreshed one."""
    from pyspark.sql import Window as W

    # lodash.find takes the FIRST match (decorator/index.js:167). 'First' in
    # API-listing order is unknowable once distributed, so the enforced
    # discipline is *deterministic*-match: one row per interfaceId chosen by
    # a stable value ordering (bare dropDuplicates keeps whichever row the
    # hash aggregate meets first — flip-flopping sg-ids/direction across
    # runs).
    others = [c for c in ENI_DIM_SCHEMA.fieldNames() if c != "interfaceId"]
    w = W.partitionBy("interfaceId").orderBy(*[F.asc_nulls_last(c) for c in others])
    ranked = [F.col("*"), F.row_number().over(w).alias("__rn")]
    first = F.col("__rn") == 1
    # name-based, so the expressions outlive any one dimension DataFrame;
    # safe because the parsed and ENI column names are disjoint
    cond = F.col("interface-id") == F.col("interfaceId")
    matched = F.col("interfaceId").isNotNull()
    # ipAddress is an array (the jmespath [?Primary] filter yields a singleton
    # list, decorator/index.js:89); JS `==` coerces ['x'] == 'x' true, so the
    # comparison is against the first element (SURVEY §7.4.2). try_element_at,
    # not element_at: a real ENI with no Primary=true IPv4 (IPv6-only) yields
    # an EMPTY array, and element_at on it raises under ANSI, killing the
    # batch — the JS `[] == destaddr` evaluates false -> 'outbound', which is
    # exactly where try_element_at's NULL lands the comparison
    # (code-review r6).
    direction = F.when(
        matched,
        F.when(
            F.col("destaddr") == F.try_element_at(F.col("ipAddress"), F.lit(1)),
            F.lit("inbound"),
        ).otherwise(F.lit("outbound")),
    )
    added = {"security-group-ids": F.col("securityGroupIds"), "direction": direction}

    def join(parsed: DataFrame, eni_dim: DataFrame) -> DataFrame:
        dim = eni_dim.select(*ranked).filter(first)
        return (
            parsed.join(F.broadcast(dim), cond, "left")
            .withColumns(added)
            .drop("interfaceId", "securityGroupIds", "ipAddress", "__rn")
        )

    return join


def join_eni(parsed: DataFrame, eni_dim: DataFrame) -> DataFrame:
    """J1: broadcast left-outer equi join replacing the O(rows*enis)
    nested-loop lookup (decorator/index.js:167-173).

    Adds `security-group-ids` (NULL on miss) and `direction`
    (inbound/outbound; NULL on miss — the reference only sets direction
    inside the match branch, :169-173).
    """
    return eni_joiner()(parsed, eni_dim)


def flatten_geo_dim(geo_dim: DataFrame) -> DataFrame:
    """Rewrite a possibly-overlapping range dimension into DISJOINT ranges,
    each carrying the attributes of its most specific (narrowest) covering
    source range.

    Real GeoIP feeds nest ranges (country superset + city subset); joining
    facts against overlapping ranges would duplicate records. Doing the
    de-overlap ONCE on the small dimension side keeps the fact-side join a
    plain broadcast probe — the alternative (per-record post-join dedup)
    costs a fact-sized shuffle at every query.

    Classic boundary sweep: every start / end+1 becomes a breakpoint;
    consecutive breakpoints form candidate intervals; each interval takes the
    narrowest source range containing it (uncovered gaps drop out).

    Scale posture (the module docstring promises a few-million-row GeoIP
    feed): both sweep steps are bucketed by /8 IP prefix so nothing runs on
    one core or as a nested loop —
     - "next breakpoint" = lead() within each /8 bucket, patched across
       bucket boundaries with a 256-row bucket spine (the only global window
       runs on that spine, not the data);
     - the interval→covering-range match is an equi join on the interval's
       /8 bucket against ranges exploded into the /8 buckets they span
       (complete because intervals never cross a breakpoint, hence never a
       range boundary: interval ⊆ range ⟹ the interval's start bucket is
       among the range's spanned buckets), with the BETWEEN containment as a
       residual filter — a hash/sort-merge join, not BroadcastNestedLoop.
    """
    from pyspark.sql import Window as W

    shift = F.lit(2 ** 24)  # /8 prefix buckets (≤256 distinct)
    points = (
        geo_dim.select(F.col("start_ip_int").alias("p"))
        .union(geo_dim.select((F.col("end_ip_int") + 1).alias("p")))
        .distinct()
        .withColumn("__bkt", (F.col("p") / shift).cast("long"))
    )
    in_bucket = W.partitionBy("__bkt").orderBy("p")
    # Tiny spine: one row per occupied /8 bucket; its global window sorts
    # ≤256 rows, so the single partition is bounded regardless of dim size.
    spine = (
        points.groupBy("__bkt").agg(F.min("p").alias("__bmin"))
        .withColumn("__next_bmin", F.lead("__bmin").over(W.orderBy("__bkt")))
        .select("__bkt", "__next_bmin")
    )
    iv = (
        points.withColumn("__next_in_bkt", F.lead("p").over(in_bucket))
        .join(F.broadcast(spine), "__bkt")
        .withColumn("next_p", F.coalesce("__next_in_bkt", "__next_bmin"))
        .filter(F.col("next_p").isNotNull())
        .select(F.col("p").alias("f_start"), (F.col("next_p") - 1).alias("f_end"))
        .withColumn("__f_bkt", (F.col("f_start") / shift).cast("long"))
    )
    exploded = geo_dim.withColumn(
        "__r_bkt",
        F.explode(
            F.sequence(
                (F.col("start_ip_int") / shift).cast("long"),
                (F.col("end_ip_int") / shift).cast("long"),
            )
        ),
    )
    covered = iv.join(
        F.broadcast(exploded),
        (iv["__f_bkt"] == exploded["__r_bkt"])
        & (iv["f_start"] >= exploded["start_ip_int"])
        & (iv["f_end"] <= exploded["end_ip_int"]),
    ).drop("__f_bkt", "__r_bkt")
    attrs = [f.name for f in geo_dim.schema.fields
             if f.name not in ("start_ip_int", "end_ip_int")]
    # tie-break THROUGH the attribute columns: a dirty feed carrying the
    # same [start, end] twice with conflicting attributes would otherwise
    # pick an arbitrary winner per shuffle (the flip-flop hazard
    # eni_joiner's first-match eliminates for the ENI dim; code-review r6)
    most_specific = W.partitionBy("f_start").orderBy(
        F.asc(F.col("end_ip_int") - F.col("start_ip_int")),
        F.asc("start_ip_int"),
        *[F.asc_nulls_last(a) for a in attrs],
    )
    return (
        covered.withColumn("__rn", F.row_number().over(most_specific))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("f_start").alias("start_ip_int"),
            F.col("f_end").alias("end_ip_int"),
            *attrs,
        )
    )


def bucket_geo_dim(geo_dim: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """Explode each CIDR range into the /prefix_bits buckets it spans so the
    range join becomes an equi join on bucket + residual BETWEEN filter."""
    shift = F.lit(2 ** (32 - prefix_bits))
    return geo_dim.withColumn(
        "ip_bucket",
        F.explode(
            F.sequence(
                (F.col("start_ip_int") / shift).cast("long"),
                (F.col("end_ip_int") / shift).cast("long"),
            )
        ),
    )


# geo dimension attribute -> the enriched column it fills
_GEO_ATTRS = {
    "country_code": "source-country-code",
    "country_name": "source-country-name",
    "region_code": "source-region-code",
    "region_name": "source-region-name",
    "city": "source-city",
}


def geo_joiner(geo_dim: DataFrame, src_col: str = "srcaddr",
               geolocation_enabled: bool = True, prefix_bits: int = 16,
               dim_is_disjoint: bool = False) -> Callable[[DataFrame], DataFrame]:
    """Build the :func:`join_geo` expressions and the bucketed dimension
    once; the returned function enriches any DataFrame with ``src_col``
    (e.g. each micro-batch of a stream over a static geo dimension)."""
    if not geolocation_enabled:
        defaults = {out: F.lit("") for out in _GEO_ATTRS.values()}
        defaults["source-location"] = F.struct(
            F.lit(0.0).alias("lat"), F.lit(0.0).alias("lon")
        )
        return lambda df: df.withColumns(defaults)

    src = F.col(src_col)
    gate = (~is_rfc1918(src)) & src.isNotNull()
    # de-overlap the dimension ONCE (dim-sized work) so each fact row can
    # match at most one range — no post-join dedup shuffle on the fact side.
    # Callers that pre-flatten (e.g. streaming, where the static dim would
    # otherwise be re-swept every micro-batch) pass dim_is_disjoint=True.
    prepared = geo_dim if dim_is_disjoint else flatten_geo_dim(geo_dim)
    bucketed = bucket_geo_dim(prepared, prefix_bits)
    dim = F.broadcast(bucketed)
    # Split the source address ONCE per record: as a flat projection every
    # getItem of ip_to_int re-runs its own split (4 octets, each read by the
    # range check and the arithmetic). The one-element explode(array(...))
    # is the same row-preserving projection barrier parse_records uses, so
    # the octet array is materialized once and read as a plain column.
    # Gated rows (RFC1918 / NULL source) carry a NULL array, hence a NULL
    # __ip_int that matches no range.
    split_once = F.explode(
        F.array(F.when(gate, F.split(src, r"\.")))
    ).alias("__src_octets")
    ip_int = octets_to_int(F.col("__src_octets")).alias("__ip_int")
    key = F.col("__ip_int")
    # name-based (safe: the fact and dimension column names are disjoint),
    # so the condition outlives any one fact DataFrame
    cond = (
        ((key / F.lit(2 ** (32 - prefix_bits))).cast("long") == F.col("ip_bucket"))
        & (key >= F.col("start_ip_int"))
        & (key <= F.col("end_ip_int"))
    )
    geo_cols = {out: F.coalesce(F.col(attr), F.lit(""))
                for attr, out in _GEO_ATTRS.items()}
    geo_cols["source-location"] = F.struct(
        F.coalesce(F.col("latitude"), F.lit(0.0)).alias("lat"),
        F.coalesce(F.col("longitude"), F.lit(0.0)).alias("lon"),
    )
    helpers = ["ip_bucket", "start_ip_int", "end_ip_int", *_GEO_ATTRS,
               "latitude", "longitude", "__src_octets", "__ip_int"]

    def join(df: DataFrame) -> DataFrame:
        keyed = df.select("*", split_once).select("*", ip_int)
        return (
            keyed.join(dim, cond, "left")
            .withColumns(geo_cols)
            .drop(*helpers)
        )

    return join


def join_geo(df: DataFrame, geo_dim: DataFrame, src_col: str = "srcaddr",
             geolocation_enabled: bool = True, prefix_bits: int = 16,
             dim_is_disjoint: bool = False) -> DataFrame:
    """J2: geolocation as a broadcast prefix-bucketed range join.

    Replaces the serial per-row HTTP lookup (decorator/index.js:175-177,
    geocode.js:56-68). The enrichment gate (env flag + RFC1918 source,
    decorator/index.js:175-177) is applied as join-input pruning: gated rows
    never enter the join. Geo columns default to ''/0 — never NULL
    (decorator/index.js:182-190), including for gated and unmatched rows.
    The source address is split once per record behind a projection
    barrier (see :func:`geo_joiner`).

    ``geolocation_enabled`` is resolved at plan-build time (SURVEY §4.3) —
    when False the join is statically pruned from the plan entirely.
    """
    return geo_joiner(geo_dim, src_col, geolocation_enabled, prefix_bits,
                      dim_is_disjoint)(df)


def project_eni_dim(ec2_raw: DataFrame) -> DataFrame:
    """The jmespath projection (decorator/index.js:85-90) as array functions:

    ``NetworkInterfaces[].{interfaceId: NetworkInterfaceId,
    securityGroupIds: Groups[].GroupId,
    ipAddress: PrivateIpAddresses[?Primary].PrivateIpAddress}``
    """
    return ec2_raw.select(
        F.col("NetworkInterfaceId").alias("interfaceId"),
        F.transform("Groups", lambda g: g["GroupId"]).alias("securityGroupIds"),
        F.transform(
            F.filter("PrivateIpAddresses", lambda p: p["Primary"]),
            lambda p: p["PrivateIpAddress"],
        ).alias("ipAddress"),
    )
