"""The operator registry: a name registers once, and every hand-kept
name tuple of the driver contract and the bench names a registered
query."""

import pytest

import __spark_entry__ as entrymod
import bench
from ocr_application_spark.operators import registry
from tests.test_oracle_parity_sf01 import STALE_OUTSIDE


def test_op_rejects_a_registered_name():
    entrymod.queries()  # import every operator module

    def impostor(spark, sf_dir):
        raise AssertionError("never registered")

    before = (dict(registry.QUERIES), dict(registry.ORACLES))
    with pytest.raises(ValueError, match=r"'dedup_exact'.*dedup\.dedup_exact.*impostor"):
        registry.op("dedup_exact", "select 1")(impostor)
    assert (registry.QUERIES, registry.ORACLES) == before


def test_name_tuples_are_registered_queries():
    registered = set(entrymod.queries())
    tuples = {
        "_WINDOW": entrymod._WINDOW,
        "STALE_OUTSIDE": STALE_OUTSIDE,
        "bench._UNTIMED": bench._UNTIMED,
    }
    unknown = {k: sorted(set(v) - registered) for k, v in tuples.items()}
    assert {k: v for k, v in unknown.items() if v} == {}
    assert len(set(bench._UNTIMED)) == len(bench._UNTIMED)
