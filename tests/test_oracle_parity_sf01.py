"""The driver's CORRECTNESS gate runs at sf0.01 but samples only
queries()[:50]; any op that sits OUTSIDE that window while its
implementation or oracle changed after its last driver-green row gets
its sf0.01 gate here — the IDENTICAL comparison the driver runs, at the
driver's scale factor (sf0.001 runs for every oracle in
test_oracle_parity). In r05 the 26 post-freeze r04 ops and the 4
engine demonstrators all rotated INTO the window (VERDICT r04 #1), so
this list holds only out-of-window ops touched since their last driver
row. Keep it current: touch an out-of-window op -> add its name; it
earns a driver row -> drop it.
"""

import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duck_con

SF_DIR = "/root/testdata/sf0.01"

# out-of-window ops whose implementation/oracle changed after their last
# driver-green row (they get here what a slot would have given them: the
# driver-identical compare at the driver's SF)
STALE_OUTSIDE = [
    # r05: the bounded-window WARN silencing (VERDICT #6) touched the
    # rank plumbing of this out-of-window op
    "text_rank_quality",
    # the winnowing ingest moved onto the shared near-dup ingest body
    "overlap_incremental_ingest",
    # run_stream_to_table moved onto the shared exactly-once sink
    "streaming_extract_digest",
    # dsir_weights lost its column and dimension options
    "sample_dsir_topk",
]

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_DIR)
    yield c
    c.close()


def test_stale_outside_list_is_current():
    names = list(_QUERIES)
    window = set(names[:50])
    for n in STALE_OUTSIDE:
        assert n in _QUERIES and n in _ORACLES, n
        assert n not in window, f"{n} is driver-sampled now; drop it here"


@pytest.mark.parametrize("name", STALE_OUTSIDE or ["__none__"])
def test_oracle_parity_sf01(name, spark, con):
    if name == "__none__":
        pytest.skip("no out-of-window op touched since its last driver row")
    errs, max_delta = compare(
        _QUERIES[name](spark, SF_DIR), con, _ORACLES[name], name
    )
    assert not errs, f"{name}: {errs} (max float rel delta {max_delta:.2e})"
