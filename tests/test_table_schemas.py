"""The declared driver-table and envelope schemas (schema.TABLE_SCHEMAS,
schema.ENVELOPE_SCHEMA) are what Spark would infer.

The registry reads with the declared schemas so that building a query
runs no inference job; if the generator, the driver testdata and the
declarations drift apart, these tests fail instead of a query silently
reading columns as the wrong type.
"""

from __future__ import annotations

import os
import sys

import pytest

from eventstore_spark import schema
from eventstore_spark.schema import (
    ENVELOPE_SCHEMA,
    TABLE_SCHEMAS,
    envelope_from_app_events,
    load_envelope,
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from gen_sf import generate  # noqa: E402

TESTDATA = "/root/testdata"  # the driver's read-only tables (TESTDATA.md)
DRIVER_DIRS = [f"{TESTDATA}/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


@pytest.fixture(scope="module")
def gen_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("declared") / "sf0.001")
    generate(0.001, out)
    return out


def _names_and_types(st):
    return [(f.name, f.dataType) for f in st]


@pytest.mark.parametrize("sf_dir", DRIVER_DIRS + ["gen_sf"])
def test_declared_table_schemas_equal_inferred(spark, gen_dir, sf_dir):
    if sf_dir == "gen_sf":
        sf_dir = gen_dir
    elif not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    for name, declared in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert declared == inferred, name


def test_declared_envelope_schema_equals_built_and_cached(
        spark, gen_dir, tmp_path, monkeypatch):
    """The adapter builds exactly ENVELOPE_SCHEMA's columns and types, and
    the cached copy read with it has the schema a plain read infers (a
    file source reads every column as nullable either way)."""
    built = envelope_from_app_events(
        spark.read.parquet(f"{gen_dir}/events.parquet"))
    assert _names_and_types(built.schema) == _names_and_types(ENVELOPE_SCHEMA)

    monkeypatch.setattr(schema, "_ENVELOPE_CACHE_ROOT", str(tmp_path))
    cached = load_envelope(spark, gen_dir)
    (key,) = os.listdir(tmp_path)
    assert cached.schema == spark.read.parquet(str(tmp_path / key)).schema


def test_unusable_envelope_cache_warns_and_rebuilds(
        spark, gen_dir, tmp_path, monkeypatch):
    """A cache root that cannot be written (here a plain file stands where
    the directory should be) falls back to building the envelope in the
    query, with a RuntimeWarning naming the error; the rows are the same."""
    monkeypatch.setattr(schema, "_ENVELOPE_CACHE_ROOT", str(tmp_path / "ok"))
    want = sorted(map(tuple, load_envelope(spark, gen_dir).collect()))

    blocked = tmp_path / "blocked"
    blocked.write_text("")
    monkeypatch.setattr(schema, "_ENVELOPE_CACHE_ROOT", str(blocked))
    with pytest.warns(RuntimeWarning, match="FileExistsError|NotADirectory"):
        got = load_envelope(spark, gen_dir)
    assert sorted(map(tuple, got.collect())) == want
