"""Seeded flow-log v2 input generator with pure-Python expected counts.

Everything here is derived from one integer seed, so the same seed always
gives the same ENI dimension, geo dimension and line files.  The generator
also knows, line by line, what the decorator must make of each line, so the
expected totals (records, Ok, ProcessingFailed, ENI misses, geo probes and
geo misses) come out of the generator itself rather than out of the
program under test.

The line mix covers every branch of the decorator:

* malformed lines (dead-lettered as ProcessingFailed), including empty ones;
* ENI hits and misses (the left-outer broadcast join);
* RFC1918 sources (the geo gate skips them), public sources inside and
  outside the geo ranges, and public sources with an out-of-range octet
  (regex-valid, but no integer address, so a geo miss);
* nested geo ranges (the most specific range must win);
* byte-identical repeats of earlier lines in the same file.
"""

from __future__ import annotations

import bisect
import random
import re
from dataclasses import dataclass, field

# The decorator's validity regex (flow-log v2, 14 fields) and its RFC1918
# predicate, restated here so the expected counts never ask the program.
FLOW_LINE_RE = re.compile(
    r"^(\d) (\d+) (eni-\w+) "
    r"(\d+\.\d+\.\d+\.\d+) (\d+\.\d+\.\d+\.\d+) "
    r"(\d+) (\d+) (\d+) (\d+) (\d+) (\d+) (\d+) "
    r"(ACCEPT|REJECT) (OK|NODATA|SKIPDATA)$"
)
RFC1918_RE = re.compile(
    r"(^127\.)|(^10\.)|(^172\.1[6-9]\.)|(^172\.2[0-9]\.)|(^172\.3[0-1]\.)|(^192\.168\.)"
)

N_ENIS = 400
N_MISS_ENIS = 40
N_GEO_BLOCKS = 1200  # /16 blocks with a country-level range
NESTED_PER_BLOCK = 2  # city-level /24 ranges nested inside some blocks
ACCOUNT = "123456789010"
# First octets that are public, unicast and outside the RFC1918 regex.
PUBLIC_FIRST = [a for a in range(1, 224) if a not in (10, 127, 172, 192)]

COUNTRIES = [
    ("US", "United States"), ("DE", "Germany"), ("JP", "Japan"),
    ("BR", "Brazil"), ("IN", "India"), ("FR", "France"), ("AU", "Australia"),
    ("CA", "Canada"), ("ZA", "South Africa"), ("SG", "Singapore"),
]

# Line-kind weights (per generated line).
W_MALFORMED = 0.05
W_REPEAT = 0.05
P_ENI_MISS = 0.10
P_SRC_PRIVATE = 0.25
P_SRC_UNCOVERED = 0.12
P_SRC_BAD_OCTET = 0.03
P_OVERFLOW_TOKEN = 0.005


@dataclass
class Counts:
    """What the decorator must report for a set of lines."""

    records: int = 0
    ok: int = 0
    failed: int = 0
    eni_miss: int = 0
    geo_probe: int = 0
    geo_miss: int = 0

    def add(self, other: "Counts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


@dataclass
class LineClass:
    valid: bool
    eni_hit: bool = False
    geo_probe: bool = False
    geo_hit: bool = False


def _ip(a: int, b: int, c: int, d: int) -> str:
    return f"{a}.{b}.{c}.{d}"


def _ip_int(a: int, b: int, c: int, d: int) -> int:
    return (a << 24) | (b << 16) | (c << 8) | d


@dataclass
class Dimensions:
    """The ENI and geo dimensions as plain Python rows."""

    enis: list[tuple[str, list[str], list[str]]]
    miss_enis: list[str]
    geo: list[tuple]  # GEO_DIM_SCHEMA rows
    covered_blocks: list[tuple[int, int]]
    uncovered_blocks: list[tuple[int, int]]
    _eni_ids: set = field(default_factory=set)
    _starts: list = field(default_factory=list)
    _ends: list = field(default_factory=list)

    def __post_init__(self) -> None:
        self._eni_ids = {e[0] for e in self.enis}
        # union of covered ranges (nested ranges never leave their block)
        spans = sorted((r[0], r[1]) for r in self.geo)
        merged: list[list[int]] = []
        for s, e in spans:
            if merged and s <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        self._starts = [m[0] for m in merged]
        self._ends = [m[1] for m in merged]

    def geo_covers(self, ip: str) -> bool:
        octs = [int(x) for x in ip.split(".")]
        if any(o > 255 for o in octs):
            return False
        v = _ip_int(*octs)
        i = bisect.bisect_right(self._starts, v) - 1
        return i >= 0 and v <= self._ends[i]

    def classify(self, line: str) -> LineClass:
        m = FLOW_LINE_RE.match(line)
        if m is None:
            return LineClass(valid=False)
        src = m.group(4)
        probe = RFC1918_RE.search(src) is None
        return LineClass(
            valid=True,
            eni_hit=m.group(3) in self._eni_ids,
            geo_probe=probe,
            geo_hit=probe and self.geo_covers(src),
        )


def make_dimensions(seed: int) -> Dimensions:
    rng = random.Random(f"dims-{seed}")
    enis = []
    seen = set()
    while len(enis) < N_ENIS:
        eid = f"eni-{rng.getrandbits(32):08x}"
        if eid in seen:
            continue
        seen.add(eid)
        sgs = [f"sg-{rng.getrandbits(32):08x}" for _ in range(rng.randint(1, 3))]
        primary = _ip(10, rng.randint(0, 255), rng.randint(0, 255), rng.randint(1, 254))
        enis.append((eid, sgs, [primary]))
    miss = []
    while len(miss) < N_MISS_ENIS:
        eid = f"eni-{rng.getrandbits(32):08x}"
        if eid not in seen:
            seen.add(eid)
            miss.append(eid)
    blocks = rng.sample([(a, b) for a in PUBLIC_FIRST for b in range(256)],
                        2 * N_GEO_BLOCKS)
    covered, uncovered = blocks[:N_GEO_BLOCKS], blocks[N_GEO_BLOCKS:]
    geo = []
    for a, b in covered:
        cc, country = rng.choice(COUNTRIES)
        region = f"R{rng.randint(1, 50):02d}"
        geo.append((
            _ip_int(a, b, 0, 0), _ip_int(a, b, 255, 255), cc, country,
            region, f"Region {region}", f"City {a}.{b}",
            round(rng.uniform(-60, 60), 4), round(rng.uniform(-180, 180), 4),
        ))
        if rng.random() < 0.5:
            for c in rng.sample(range(256), NESTED_PER_BLOCK):
                geo.append((
                    _ip_int(a, b, c, 0), _ip_int(a, b, c, 255), cc, country,
                    region, f"Region {region}", f"City {a}.{b}.{c}",
                    round(rng.uniform(-60, 60), 4), round(rng.uniform(-180, 180), 4),
                ))
    return Dimensions(enis, miss, geo, covered, uncovered)


_MALFORMED = [
    lambda n: f"CONTROL message {n}",
    lambda n: f"2 {ACCOUNT} broken {n}",
    lambda n: f"1 12345 eni-{n:x} not-an-ip 1.2.3.4 1 2 3 4 5 6 7 DROP OK",
    lambda n: f"2 {ACCOUNT} eni-{n:x} 1.2.3.4 5.6.7.8 1 2 6 1 40 1 2 ACCEPT MAYBE",
    lambda n: "",
]


def _valid_line(rng: random.Random, dims: Dimensions, t: int) -> str:
    if rng.random() < P_ENI_MISS:
        eni, primary = rng.choice(dims.miss_enis), None
    else:
        eni, _, ips = rng.choice(dims.enis)
        primary = ips[0]
    u = rng.random()
    if u < P_SRC_PRIVATE:
        src = rng.choice([
            _ip(10, rng.randint(0, 255), rng.randint(0, 255), rng.randint(1, 254)),
            _ip(172, rng.randint(16, 31), rng.randint(0, 255), rng.randint(1, 254)),
            _ip(192, 168, rng.randint(0, 255), rng.randint(1, 254)),
            _ip(127, 0, 0, 1),
        ])
    elif u < P_SRC_PRIVATE + P_SRC_UNCOVERED:
        a, b = rng.choice(dims.uncovered_blocks)
        src = _ip(a, b, rng.randint(0, 255), rng.randint(1, 254))
    elif u < P_SRC_PRIVATE + P_SRC_UNCOVERED + P_SRC_BAD_OCTET:
        a, b = rng.choice(dims.covered_blocks)
        src = _ip(a, b, rng.randint(0, 255), rng.randint(256, 999))
    else:
        a, b = rng.choice(dims.covered_blocks)
        src = _ip(a, b, rng.randint(0, 255), rng.randint(1, 254))
    if primary is not None and rng.random() < 0.4:
        dst = primary
    else:
        dst = _ip(10, rng.randint(0, 255), rng.randint(0, 255), rng.randint(1, 254))
    nbytes = rng.randint(40, 100000)
    if rng.random() < P_OVERFLOW_TOKEN:
        nbytes = 99999999999999999999  # regex-valid, overflows int64
    start = t + rng.randint(0, 59)
    return (
        f"2 {ACCOUNT} {eni} {src} {dst} {rng.randint(1024, 65535)} "
        f"{rng.choice((22, 80, 443, 3306, 6379))} {rng.choice((6, 17))} "
        f"{rng.randint(1, 500)} {nbytes} {start} {start + 60} "
        f"{rng.choice(('ACCEPT', 'ACCEPT', 'REJECT'))} "
        f"{rng.choice(('OK', 'OK', 'OK', 'NODATA', 'SKIPDATA'))}"
    )


def make_file_lines(seed: int, index: int, n: int,
                    dims: Dimensions) -> tuple[list[str], Counts]:
    """Lines of input file ``index`` and the counts the decorator must give.

    Lines never repeat across files (each file has its own time window and
    serial numbers); repeats happen only inside a file.  The last line is
    never empty, so a text reader sees exactly ``n`` rows.
    """
    rng = random.Random(f"lines-{seed}-{index}")
    t0 = 1_600_000_000 + index * 86_400
    lines: list[str] = []
    valid_seen: list[str] = []
    for i in range(n):
        u = rng.random()
        if u < W_MALFORMED and i < n - 1:
            lines.append(rng.choice(_MALFORMED)(index * n + i))
        elif u < W_MALFORMED + W_REPEAT and valid_seen:
            lines.append(rng.choice(valid_seen))
        else:
            line = _valid_line(rng, dims, t0 + i)
            valid_seen.append(line)
            lines.append(line)
    return lines, count_lines(lines, dims)


def count_lines(lines: list[str], dims: Dimensions) -> Counts:
    c = Counts()
    for line in lines:
        k = dims.classify(line)
        c.records += 1
        if not k.valid:
            c.failed += 1
            continue
        c.ok += 1
        c.eni_miss += not k.eni_hit
        c.geo_probe += k.geo_probe
        c.geo_miss += k.geo_probe and not k.geo_hit
    return c


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
