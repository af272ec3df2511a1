"""Every oracle-paired query must match DuckDB at sf0.001 (the driver
runs the same comparison at sf0.01 -> CORRECTNESS_r{N}.json)."""

import json
import pathlib

import pytest

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duck_con

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(name, spark, con):
    errs, max_delta = compare(_QUERIES[name](spark, SF_DIR), con, _ORACLES[name], name)
    assert not errs, f"{name}: {errs} (max float rel delta {max_delta:.2e})"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = _QUERIES[name](spark, SF_DIR)
    # rows-only queries must produce results, not merely avoid crashing
    assert df.count() > 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_driver_window_covers_flagships_and_new_ops():
    """The driver's correctness gate samples queries()[:50]; pin the r05
    window (explicit `_WINDOW` tuple) so adding a query can't silently
    evict an anchor or one of the 30 rotate-ins that had never had a
    driver row before r05 (the 26 post-freeze r04 ops + the 4 engine
    demonstrators — VERDICT r04 "Next round" #1). Everything outside
    must be prior-driver-green or rows-only-by-design."""
    names = list(_QUERIES)
    window, outside = set(names[:50]), set(names[50:])
    # the _WINDOW tuple must BE the first 50, in its own order
    assert len(entrymod._WINDOW) == 50
    assert names[:50] == list(entrymod._WINDOW)
    # permanent anchors + the 26 post-freeze r04 ops + the 4 engine
    # demonstrators (the complete never-driver-checked rotate-in set)
    must_cover = {
        "pipeline_extract_digest",
        "dedup_incremental_ingest",
        "neardup_incremental_ingest",
        "semantic_incremental_ingest",
        "cdc_incremental_ingest",
        "classify_calibration_report",
        "corpus_zipf_report",
        "crawl_frontier_priority",
        "crawl_sitemap_discovery",
        "dedup_cdc_chunks",
        "link_host_components",
        "page_markdown",
        "split_leakage_report",
        "text_confusable_fold",
        "text_window_chunks",
        "multimodal_phash",
        "multimodal_phash_pairs",
        "text_script_mix",
        "emb_kmeans_assign",
        "emb_semdedup",
        "url_sitemap_index",
        "page_hreflang_clusters",
        "page_pagination_series",
        "text_word_blocklist",
        "text_sentence_split",
        "text_fk_readability",
        "crawl_delay_directives",
        "host_quality_report",
        "page_heading_outline",
        "page_section_chunks",
        "events_rollup_daily",
        "group_percentiles_chars",
        "text_heavy_hitters",
        "bucketed_colocated_join",
    }
    assert must_cover <= window, must_cover - window
    # every in-window entry must be oracle-paired (a rows-only row would
    # waste a slot on the weak check)
    assert window <= set(_ORACLES), window - set(_ORACLES)
    rows_only = set(_QUERIES) - set(_ORACLES)
    allowed_outside = _prior_driver_green() | rows_only
    assert outside <= allowed_outside, outside - allowed_outside


def _prior_driver_green() -> set[str]:
    """Names with a green driver row (all three checks true) in some
    round's CORRECTNESS_r*.json."""
    green = set()
    for f in pathlib.Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        for name, row in json.loads(f.read_text()).items():
            if row["rows_match"] and row["schema_match"] and row["hash_match"]:
                green.add(name)
    return green


def test_digest_oracle_survives_adversarial_text(spark, tmpdir_scratch):
    """The flagship digest oracle must mirror the kernel on text the
    clean driver fixtures never exercise: whitespace runs, empty and
    whitespace-only docs, mojibake markers, >8-digit ids, chunk-boundary
    straddles, markup characters."""
    import duckdb
    import pandas as pd

    from tests.oracle_harness import compare

    rows = [
        (1, "plain single spaced words " * 10, "en", "s", 0),
        (2, "double  spaced   runs here " * 8, "en", "s", 0),
        (3, "", "en", "s", 0),
        (4, "   ", "en", "s", 0),
        (5, "d??j?? vu mojibake test", "fr", "s", 0),
        (123456789012, "big id doc", "en", "s", 0),
        (7, "x " * 26, "en", "s", 0),
        (8, " lead and trail  ", "en", "s", 0),
        (9, "a<b AT&T markup 'quotes' \"dq\"", "en", "s", 0),
        # unicode whitespace the ASCII \s class would miss (ADVICE r01):
        # file/group/record/unit separators, NEL, NBSP, vertical tab,
        # line/paragraph separators, NNBSP, ideographic space
        (10, "fs\x1cgs\x1drs\x1eus\x1f nel\x85nbsp\xa0vt\x0b", "en", "s", 0),
        (11, "ls\u2028ps\u2029em\u2003nn\u202fid\u3000end", "en", "s", 0),
        (12, "    \x1c ", "en", "s", 0),  # unicode-ws-only doc
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf.to_parquet(f"{tmpdir_scratch}/documents.parquet")
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{tmpdir_scratch}/documents.parquet'")
    errs, _ = compare(
        _QUERIES["pipeline_extract_digest"](spark, tmpdir_scratch),
        con,
        _ORACLES["pipeline_extract_digest"],
        "digest_adversarial",
    )
    assert errs == [], errs


def test_ar1_exact_fit_edge_branches():
    """Pin the integer-sufficient-statistic fitter's guard branches:
    single point (den=0 -> phi=0), constant series (den=0), and a known
    two-point series; all values must be exact IEEE results of the
    documented op sequence."""
    from ocr_application_spark.operators.forecast import _ar1_exact_fit

    # single month: phi 0, forecasts collapse to the value itself
    phi, mu, h1, h2, h3 = _ar1_exact_fit([1234])
    assert (phi, mu) == (0.0, 12.34)
    assert h1 == h2 == h3 == 12.34

    # constant series: den = 0 -> phi = 0, forecasts = mean = value
    phi, mu, h1, h2, h3 = _ar1_exact_fit([500, 500, 500])
    assert (phi, mu, h1) == (0.0, 5.0, 5.0)

    # two points: den > 0, exact closed form
    # yc = [100, 300]: n=2, S=400, pairs: spp=30000, sprev2=10000
    # num = 4*30000 - 2*400*(300+100) + 1*160000 = -40000
    # den = 4*10000 - 2*2*400*100 + 160000 = 40000  -> phi = -1.0
    phi, mu, h1, _, h3 = _ar1_exact_fit([100, 300])
    assert phi == -1.0 and mu == 2.0
    assert h1 == 2.0 + (3.0 - 2.0) * -1.0  # mean-reverting flip
    assert h3 == 2.0 + (3.0 - 2.0) * -1.0  # odd power


def test_ma1_exact_edge_branches():
    """Pin the MA(1) moment estimator's branches: no residuals, interior
    closed form, the |r1| > 1/2 invertibility clamp (both signs), and
    the zero-residual series."""
    import math

    from ocr_application_spark.operators.forecast import _ma1_exact, _ratio_q30

    # the quantized ratio itself: exact round-half-away at 2^-30
    assert _ratio_q30(-40000, 40000) == -1.0
    assert _ratio_q30(1, 2) == 0.5
    assert abs(_ratio_q30(2, 5) - 0.4) < 2**-30

    # one diff -> no residual pairs at all
    assert _ma1_exact([7], 0.0, 7.0) == (0.0, 0.0)

    # phi=0, mu=0 makes residuals the raw diffs; q=[2000,1000,0]:
    # sqq=2e6, sq2=5e6 -> r1=q30(0.4) interior
    theta, ecur = _ma1_exact([0, 2, 1, 0], 0.0, 0.0)
    r1 = _ratio_q30(2_000_000, 5_000_000)
    assert theta == (1.0 - math.sqrt(1.0 - 4.0 * (r1 * r1))) / (2.0 * r1)
    assert ecur == 0.0  # last residual is exactly 0

    # alternating spikes: r1 = -2/3 -> clamp to -1.0
    theta, ecur = _ma1_exact([0, 1000, -1000, 1000, -1000], 0.0, 0.0)
    assert theta == -1.0 and ecur == -10.0
    # mirrored sign clamps to +1.0
    theta, _ = _ma1_exact([0, 1000, 1000, 1000], 0.0, 0.0)
    assert theta == 1.0

    # perfectly-fit AR residuals are all zero -> sq2 = 0 -> theta 0
    assert _ma1_exact([100, 100, 100], 1.0, 100.0) == (0.0, 0.0)


def test_arima_oracle_survives_adversarial_series(spark, tmpdir_scratch):
    """The ARIMA(1,1,1)-analog oracle must mirror the kernel bit-for-bit
    on series the driver fixtures never exercise: constant (zero
    diffs), single/two-month, alternating spikes that clamp theta at
    the invertibility boundary, linear ramps (zero residuals), and
    values sitting on quantization rounding edges."""
    import datetime

    import duckdb

    from ocr_application_spark.operators import forecast as fc
    from tests.oracle_harness import compare

    def series(event_type, values):
        return [
            (i, datetime.datetime(2020, 1 + i, 15), 0, event_type, v, "")
            for i, v in enumerate(values)
        ]

    rows = (
        series("const", [5.0] * 6)
        + series("single", [123.45])
        + series("two", [1.0, 3.0])
        + series("alt", [0.0, 10.0, -10.0, 10.0, -10.0, 10.0])
        + series("ramp", [1.0, 2.0, 3.0, 4.0, 5.0])
        + series("edge", [0.005, 0.015, 0.115, 2.005, 0.005, 7.775])
        + series("walk", [100.0, 103.7, 99.2, 104.9, 101.1, 108.3, 97.6])
    )
    # seeded random walks at magnitudes that push the residual
    # autocorrelation sums (and the AR num/den) far beyond 2^53 — the
    # regime where DuckDB's raw hugeint->double cast mis-rounds and only
    # the quantized-ratio path stays bit-identical
    import random

    rng = random.Random(20260817)
    for s in range(6):
        vals, y = [], 5e7
        for _ in range(rng.randint(4, 11)):
            y += rng.uniform(-2e7, 2e7)
            vals.append(round(y, 2))
        rows += series(f"big{s}", vals)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    path = tmpdir_scratch + "/events.parquet"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{path}/*.parquet'")
    errs, max_delta = compare(
        fc.forecast_arima_like(spark, tmpdir_scratch),
        con,
        _ORACLES["forecast_arima_like"],
        "forecast_arima_like_adversarial",
        float_rtol=0.0,  # the fit is engineered bit-identical
    )
    con.close()
    assert not errs, f"{errs} (max float delta {max_delta:.2e})"


def test_curation_oracles_survive_adversarial_text(spark, tmpdir_scratch):
    """The three newest curation oracles (Gopher repetition, sequence
    packing, domain mix) must mirror Spark on text shapes the driver
    fixtures never exercise: empty/whitespace-only docs, single words,
    n-gram boundary lengths (exactly 2 / exactly 5 words), pathological
    all-same-word repetition, multi-space runs (empty tokens), unicode,
    and >32-bit doc_ids (shard modulo + md5 coin)."""
    import duckdb
    import pandas as pd

    from tests.oracle_harness import compare

    rows = [
        (0, "", "en", "src0", 0),
        (1, "   ", "en", "src1", 0),
        (2, "solo", "en", "src2", 0),
        (3, "two words", "en", "src3", 0),
        (4, "five words exactly in here", "en", "src0", 0),
        (5, "x " * 29 + "x", "en", "src1", 0),  # one token repeated 30x
        (6, "a b " * 15 + "tail", "en", "src2", 0),  # dominant 2-gram
        (7, ("p q r s t " * 4) + "unique close", "en", "src3", 0),  # dup 5-grams
        (8, "multi  space   runs  here", "en", "src0", 0),  # empty tokens
        (9, "déjà vu über naïve café résumé", "fr", "src1", 0),
        (123456789012, "big id doc body words", "en", "src15", 0),
        (10, "ls ps  tokens with unicode seps", "en", "src2", 0),
        # multi-line + junk markers (C4 line rules), stopword-dense,
        # symbol-heavy, and long-word docs (Gopher rule card)
        (
            11,
            "The lines of this doc end well.\nshort.\n"
            "Enable javascript to proceed now ok.\n"
            "We have that cookie banner text here.\n"
            "A fine long line with the words!\n"
            "Another fine long line of have words?\n"
            "braces { here with many more words.\n"
            "lorem ipsum dolor sit amet yes indeed.",
            "en",
            "src3",
            0,
        ),
        (12, "the be to of and that have with " * 8 + "end.", "en", "src0", 0),
        # CRLF corpus: split on \n leaves a trailing \r — Java's $
        # matches before it, RE2's does not; the \z anchor (and only
        # \z) keeps both engines agreeing this line is NOT terminal
        (
            15,
            "A crlf line that would end well here.\r\n"
            "Another crlf line of the good words.\r\n"
            "And a third fine line with that end.\r\n"
            "Plus a fourth good line of the words.",
            "en",
            "src2",
            0,
        ),
        (
            13,
            "#### ### ...... symbols # everywhere ... " * 4 + "the end of that",
            "en",
            "src1",
            0,
        ),
        (
            14,
            "supercalifragilisticexpialidocious " * 60 + "the of",
            "en",
            "src2",
            0,
        ),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf.to_parquet(f"{tmpdir_scratch}/documents.parquet")
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{tmpdir_scratch}/documents.parquet'")
    for name in (
        "text_gopher_repetition",
        "seq_pack",
        "sample_domain_mix",
        "text_rank_quality",
        "dedup_span_ratio",
        "dedup_span_strip",
        "boilerplate_strip_source",
        "sample_token_budget",
        "text_gopher_quality",
        "text_c4_line_filter",
        "shard_shuffle",
        "sample_epochs_weighted",
        "dedup_consecutive_lines",
    ):
        errs, delta = compare(
            _QUERIES[name](spark, tmpdir_scratch), con, _ORACLES[name], name
        )
        assert not errs, f"{name}: {errs} (max float rel delta {delta:.2e})"
    con.close()


def test_normalize_oracle_fixture_preconditions():
    """The kernel_normalize oracle hardcodes charset='utf-8' — exact only
    while no fixture document can trip sniff_charset (which scans the
    first 1024 BYTES of the wrapped page, i.e. ~700 bytes of article
    text after the template preamble). Pin the precondition for every
    shipped sf so a fixture refresh that violates it fails HERE with an
    explanation instead of as an opaque gate hash-mismatch."""
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01", "0.1"):
        n = con.sql(
            f"""select count(*) from '/root/testdata/sf{sf}/documents.parquet'
                where lower(substr(coalesce(text,''), 1, 800)) like '%charset=%'
                   or lower(substr(coalesce(text,''), 1, 800)) like '%iso-8859-1%'
                   or lower(substr(coalesce(text,''), 1, 800)) like '%latin-1%'"""
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} docs could trip sniff_charset"


def test_normalize_oracle_survives_adversarial_text(spark, tmpdir_scratch):
    """kernel_normalize's page-rebuild oracle must mirror the kernel on
    shapes the clean fixtures never exercise: escape-relevant markup,
    mojibake markers, unicode whitespace at chunk edges, empty and
    ws-only docs, >8-digit ids, NULL text and NULL lang."""
    import duckdb
    import pandas as pd

    from tests.oracle_harness import compare

    rows = [
        (1, "plain words " * 30, "en", "s", 0),
        (2, "a<b AT&T 'q' \"dq\" x>y & &amp; pre-escaped", "en", "s", 0),
        (3, "d??j?? vu ?? split? ? across words ???", "fr", "s", 0),
        (4, "", "en", "s", 0),
        (5, "   \x1c　 ", "en", "s", 0),
        (6, "fs\x1cgs\x1d nel\x85nbsp\xa0 ls ps nn ", "en", "s", 0),
        (123456789012, "big id", "en", "s", 0),
        (8, None, "en", "s", 0),
        (9, "null lang doc", None, "s", 0),
        (10, " lead  and  trail " * 20, "de", "s", 0),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf.to_parquet(f"{tmpdir_scratch}/documents.parquet")
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{tmpdir_scratch}/documents.parquet'")
    errs, _ = compare(
        _QUERIES["kernel_normalize"](spark, tmpdir_scratch),
        con,
        _ORACLES["kernel_normalize"],
        "normalize_adversarial",
    )
    assert errs == [], errs


def test_array_side_ops_null_and_empty_text(spark, tmpdir_scratch):
    """The array-side per-doc rewrites must keep the oracles' NULL/empty
    semantics: rank-quality scores NULL text like empty text (the
    oracle's LEFT JOIN + coalesce path), simhash and langid DROP
    NULL-text docs (unnest + GROUP BY emits no row), span-ratio and
    corpus-clean pass NULL through their own guards. Pins the
    review finding that split(NULL) propagates NULL through
    filter/size where explode->groupBy used to drop the row."""
    import duckdb
    import pandas as pd

    rows = [
        (1, "the cat sat on the mat and the dog ran off to town " * 8),
        (2, "one two three four five six seven eight nine ten eleven"),
        (3, None),
        (4, ""),
        (5, "solo"),
        (6, "the cat sat on the mat and the dog ran off to town " * 8),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf.to_parquet(f"{tmpdir_scratch}/documents.parquet")
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from '{tmpdir_scratch}/documents.parquet'"
    )
    # gopher repetition is excluded: on NULL text BOTH engines yield
    # NULL basis points (verified), but the harness normalizes Spark's
    # None and duck's NaN differently for non-float columns
    for name in (
        "text_rank_quality",
        "dedup_span_ratio",
        "dedup_simhash",
        "text_langid_heuristic",
        "corpus_clean_pipeline",
    ):
        errs, _ = compare(
            _QUERIES[name](spark, tmpdir_scratch),
            con,
            _ORACLES[name],
            f"{name}_nulls",
        )
        assert errs == [], f"{name}: {errs}"
