"""Tests of the seeded input generators (flow-log lines and analytics tables).

    python3 -m pytest perfbench/test_flowgen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import flowgen  # noqa: E402


def test_same_seed_same_inputs():
    a, b = flowgen.make_dimensions(7), flowgen.make_dimensions(7)
    assert (a.enis, a.geo) == (b.enis, b.geo)
    la, ca = flowgen.make_file_lines(7, 3, 2000, a)
    lb, cb = flowgen.make_file_lines(7, 3, 2000, b)
    assert la == lb and ca == cb


def test_other_seed_or_file_other_inputs():
    d = flowgen.make_dimensions(7)
    base, _ = flowgen.make_file_lines(7, 0, 500, d)
    assert base != flowgen.make_file_lines(8, 0, 500, flowgen.make_dimensions(8))[0]
    assert base != flowgen.make_file_lines(7, 1, 500, d)[0]


def test_mix_covers_every_branch():
    d = flowgen.make_dimensions(3)
    lines, c = flowgen.make_file_lines(3, 0, 5000, d)
    assert c.records == len(lines) == 5000
    assert c.ok + c.failed == c.records
    assert 0 < c.failed and 0 < c.eni_miss < c.ok
    assert 0 < c.geo_miss < c.geo_probe < c.ok
    assert "" in lines and lines[-1] != ""
    assert len(set(lines)) < len(lines)  # repeats inside the file


def test_rules_match_the_program():
    from aws_vpc_flow_log_appender_spark.enrich import RFC1918_PATTERN
    from aws_vpc_flow_log_appender_spark.schema import FLOW_LINE_PATTERN

    assert flowgen.FLOW_LINE_RE.pattern == FLOW_LINE_PATTERN
    assert flowgen.RFC1918_RE.pattern == RFC1918_PATTERN


def test_tables_same_seed_same_rows(tmp_path):
    import pyarrow.parquet as pq

    import tablegen

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    tablegen.write_tables(str(a), 5, sf=0.001)
    tablegen.write_tables(str(b), 5, sf=0.001)
    for name in os.listdir(a):
        assert pq.read_table(a / name).equals(pq.read_table(b / name)), name


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.local.dir", str(tmp_path_factory.mktemp("spark")))
         .getOrCreate())
    yield s
    s.stop()


def test_counts_match_a_decorate_run(spark, tmp_path):
    from decorate import _decorate_counts, _dims, _enrichment_counts

    d = flowgen.make_dimensions(11)
    expected = flowgen.Counts()
    for i in range(2):
        lines, c = flowgen.make_file_lines(11, i, 1500, d)
        flowgen.write_lines(str(tmp_path / f"part-{i}.log"), lines)
        expected.add(c)
    eni_df, geo_df = _dims(spark, d)
    lines_df = spark.read.text(str(tmp_path))
    got = _decorate_counts(lines_df, eni_df, geo_df)
    got.update(_enrichment_counts(lines_df, eni_df, geo_df))
    assert got == expected.as_dict()
    assert _decorate_counts(lines_df, eni_df, geo_df, unique_ids=True)["records"] \
        == expected.records
