"""Shared fixtures: one local SparkSession per test session, and access to the
reference implementation (oracle only — never imported by engine code)."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_SRC = "/root/reference/src"

sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("okay_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def okay_reference():
    """The reference validator, used strictly as a conformance oracle."""
    if REFERENCE_SRC not in sys.path:
        sys.path.insert(0, REFERENCE_SRC)
    import okay  # noqa: F401

    return okay


def _violations_by_row(df, schema, *, id_cols=None, include_seq=False):
    """``validate_dataframe``'s rows rebuilt by exploding the per-row
    ``engine.violations_array`` (the form quarantine, the summaries and
    streaming consume), so a test can run each case through both forms."""
    from pyspark.sql import functions as F

    from okay_spark.engine import violations_array
    from okay_spark.schema import CompiledSchema, compile_cached

    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    ids = list(id_cols) if id_cols is not None else [c for c in df.columns if c == "doc_id"]
    fields = ["path", "rule", "expected"] + (["seq"] if include_seq else [])
    return df.select(*ids, F.explode(violations_array(df.schema, compiled)).alias("_v")).select(
        *ids, *[F.col("_v")[f].alias(f) for f in fields]
    )


@pytest.fixture(scope="session")
def violations_by_row():
    return _violations_by_row
