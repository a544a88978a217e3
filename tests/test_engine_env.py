"""Engine code takes its sizing from the Spark session, not from the
environment of whatever process runs it."""

from __future__ import annotations

import pathlib

import aml_feature_store_spark

PKG = pathlib.Path(aml_feature_store_spark.__file__).parent


def test_only_session_reads_spark_graft_variables():
    """``session.get_spark`` is the one entry point that may read the
    ``SPARK_GRAFT_*`` launcher variables (its default master and shuffle
    partitions); every other module must size itself from the session."""
    offenders = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if p.name != "session.py" or p.parent != PKG
        if "SPARK_GRAFT_" in p.read_text(encoding="utf-8")
    )
    assert offenders == []
