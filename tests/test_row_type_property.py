"""Property test: ``row_type_col`` (one regex rewrite per row) returns
exactly what the former expression returned — a single regex
extraction bound through a one-element ``transform()`` and split back
into its parts — on any record, kept here as the oracle."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F

from kinesis_s3_spark.functions.schema_key import (
    _IGLU_RE,
    READING_ERROR,
    UNPARTITIONED,
    row_type_col,
)


def oracle_row_type_col(value: Column, is_failed: Column | None = None) -> Column:
    def build(m: Column) -> Column:
        parts = F.split(F.substring(m, 6, 2_000_000), "/")
        model = F.element_at(F.split(F.element_at(parts, 4), "-"), 1)
        return F.when(
            m != "",
            F.concat(
                F.element_at(parts, 1),
                F.lit("."),
                F.element_at(parts, 2),
                F.lit("/"),
                F.element_at(parts, 3),
                F.lit("-"),
                model,
            ),
        ).otherwise(F.lit(UNPARTITIONED))

    bound = F.regexp_extract(F.get_json_object(value, "$.schema"), _IGLU_RE, 0)
    partition = F.get(F.transform(F.array(bound), build), 0)
    if is_failed is not None:
        partition = F.when(is_failed, F.lit(READING_ERROR)).otherwise(partition)
    return partition


_VENDOR = st.text(alphabet="abcXY09-_.", min_size=1, max_size=8)
_SEGMENT = st.text(alphabet="abcXY09-_", min_size=1, max_size=8)
_DIGITS = st.text(alphabet="0123456789", min_size=1, max_size=3)
# the final line terminators Java's `$` matches before, and near misses
_TAIL = st.sampled_from(
    ["", "\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029", "\n\n", "\n\r", "\r\r", " ", "x"]
)
_NOISE = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=12
)


@st.composite
def iglu_uri(draw) -> str:
    """A well-formed Iglu URI, or (half the time) one with a part
    broken: an empty or foreign segment, a wrong digit count, an extra
    segment, another scheme. Either may end in a line terminator."""
    segments = [draw(_VENDOR), draw(_SEGMENT), draw(_SEGMENT)]
    version = [draw(_DIGITS) for _ in range(3)]
    scheme = "iglu:"
    if draw(st.booleans()):
        broken = draw(st.sampled_from(["segment", "digits", "extra", "scheme"]))
        if broken == "segment":
            segments[draw(st.integers(0, 2))] = draw(_NOISE)
        elif broken == "digits":
            version = version[: draw(st.integers(1, 2))] + draw(st.lists(_NOISE, max_size=2))
        elif broken == "extra":
            segments.insert(draw(st.integers(0, 3)), draw(_SEGMENT))
        else:
            scheme = draw(st.sampled_from(["IGLU:", "iglu", "", "xiglu:", " iglu:"]))
    return scheme + "/".join(segments + ["-".join(version)]) + draw(_TAIL)


# schema values that are not URI strings
_OTHER_SCHEMA = st.one_of(
    _NOISE,
    st.integers(),
    st.none(),
    st.booleans(),
    st.lists(st.integers(), max_size=2),
    st.dictionaries(st.sampled_from(["schema", "a"]), iglu_uri(), max_size=2),
)


@st.composite
def record(draw) -> str | None:
    """One payload: JSON objects with the schema first, later, twice or
    not at all; string escapes on or off; invalid JSON and NULL."""
    shape = draw(st.sampled_from(["first", "later", "duplicate", "missing", "broken", "text", "null"]))
    if shape == "null":
        return None
    if shape == "text":
        return draw(_NOISE)
    ascii_only = draw(st.booleans())

    def enc(v) -> str:
        return json.dumps(v, ensure_ascii=ascii_only)

    schema = enc(draw(iglu_uri() if draw(st.integers(0, 5)) else _OTHER_SCHEMA))
    data = '"data":{"a":1}'
    body = {
        "first": f'"schema":{schema},{data}',
        "later": f'{data},"schema":{schema}',
        "duplicate": f'"schema":{schema},"schema":{enc(draw(iglu_uri()))}',
        "missing": data,
        "broken": f'"schema":{schema},{data}'[: draw(st.integers(0, 40))],
    }[shape]
    return "{" + body + ("" if shape == "broken" else "}")


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=st.lists(st.tuples(record(), st.one_of(st.none(), st.booleans())), min_size=1, max_size=60))
def test_row_type_col_matches_oracle(spark, rows):
    df = spark.createDataFrame(rows, "value string, failed boolean")
    got = df.select(
        "value",
        row_type_col(F.col("value")).alias("new"),
        oracle_row_type_col(F.col("value")).alias("old"),
        row_type_col(F.col("value"), F.col("failed")).alias("new_failed"),
        oracle_row_type_col(F.col("value"), F.col("failed")).alias("old_failed"),
    ).collect()
    for r in got:
        assert (r["new"], r["new_failed"]) == (r["old"], r["old_failed"]), r["value"]


def test_fixed_edge_cases(spark):
    """Hand-picked cases the strategies above reach only by chance.
    Java's `$` matches before ONE final line terminator, so a URI
    ending in one still names its row type, without the terminator."""
    values = [
        '{"schema":"iglu:a/b/c/1-0-0\\n"}',
        '{"schema":"iglu:a/b/c/1-0-0\\r\\n"}',
        '{"schema":"iglu:a/b/c/1-0-0\\u2028"}',
        '{"schema":"iglu:a/b/c/1-0-0\\n\\n"}',
        '{"schema":"iglu:a/b/c/1-0-0 "}',
        '{"schema":"./-"}',
        '{"schema":"iglu:./-/c/1-0-0"}',
        '{"schema":""}',
        '{"schema":null}',
        '{"schema":{"schema":"iglu:a/b/c/1-0-0"}}',
        '{"schema":"iglu:a/b/c/1-0-0","schema":"iglu:x/y/z/2-0-0"}',
        '{"data":1,"schema":"iglu:a/b/c/10-20-30"}',
        '{"schema":"iglu:a/b/c/1-0"}',
        '{"schema":"iglu:a/b/c/1-0-0-0"}',
        '{"schema":"iglu:a/b/c/-0-0"}',
        '{"schema":"iglu:a.b/c/d/1-0-0',
        None,
    ]
    df = spark.createDataFrame([(v,) for v in values], "value string")
    got = df.select(
        row_type_col(F.col("value")).alias("new"), oracle_row_type_col(F.col("value")).alias("old")
    ).collect()
    assert [r["new"] for r in got] == [r["old"] for r in got]
    assert [r["new"] for r in got][:4] == ["a.b/c-1", "a.b/c-1", "a.b/c-1", UNPARTITIONED]
