"""Golden tarification tests — automated analog of the reference's
checked-in expected artifacts (resume_remboursement.json etc.)."""

import pytest

from ocr_application_spark.analytics.tarification import (
    monthly_series,
    parse_catalog,
    reserve_estimate,
    summarize,
    tarify,
)

CATALOG = [
    ("RUGDAL", "6,01", "5,11"),
    ("Doliprane 1000", "3,50", "2,80"),
    ("Aspirine UPSA", "4,20", "0,00"),
]

LINES = [
    # url, line_id, nom, quantite, prix_unitaire, prix_total, date_facture
    ("u1", 1, "rugdal", 2, 6.01, 12.02, "15/01/2023"),       # exact (case-norm) match
    ("u1", 2, "doliprane 1000", None, 3.50, 3.50, "15/01/2023"),  # qty default 1
    ("u1", 3, "dolipran 1000", 3, 3.50, 10.50, "20/02/2023"),     # 1 edit, len 14 -> 92.86 >= 90
    ("u1", 4, "vitamine c", 1, 2.00, 2.00, "20/02/2023"),         # no match -> nulls
    ("u2", 1, "aspirine upsa", 2, 4.20, 8.40, "05/03/2023"),      # matched, remb 0
]


@pytest.fixture(scope="module")
def tarified(spark):
    cat = parse_catalog(
        spark.createDataFrame(CATALOG, "name string, price string, remboursement string")
    )
    lines = spark.createDataFrame(
        LINES,
        "url string, line_id int, nom string, quantite int, "
        "prix_unitaire double, prix_total double, date_facture string",
    )
    return tarify(lines, cat).cache()


def test_matching_and_threshold(tarified):
    rows = {(r.url, r.line_id): r for r in tarified.collect()}
    assert rows[("u1", 1)].matched_name == "rugdal"
    assert rows[("u1", 1)].remboursement_total == pytest.approx(2 * 5.11)
    assert rows[("u1", 2)].remboursement_total == pytest.approx(2.80)  # qty default 1
    assert rows[("u1", 3)].matched_name == "doliprane 1000"  # fuzzy >= 90
    assert rows[("u1", 3)].score == pytest.approx(100 * (1 - 1 / 14))
    assert rows[("u1", 4)].matched_name is None  # below threshold -> null-extended
    assert rows[("u1", 4)].remboursement_total is None
    assert rows[("u2", 1)].remboursement_total == pytest.approx(0.0)


def test_summary_golden(tarified):
    s = summarize(tarified).collect()[0]
    assert s.total_facture == pytest.approx(12.02 + 3.50 + 10.50 + 2.00 + 8.40)
    expected_r = 2 * 5.11 + 2.80 + 3 * 2.80 + 0.0
    assert s.total_rembourse == pytest.approx(expected_r)
    assert s.taux_couverture == pytest.approx(round(100 * expected_r / 36.42, 2))
    assert s.n_lignes == 5 and s.n_matched == 4


def test_reserve(tarified):
    r = reserve_estimate(tarified).collect()[0]
    nonzero = [2 * 5.11, 2.80, 3 * 2.80]  # zero-remb and unmatched excluded (A3)
    mean = sum(nonzero) / len(nonzero)
    assert r.mean_remboursement == pytest.approx(mean)
    assert r.reserve_simple == pytest.approx(mean * 3 * 1.1)


def test_monthly_series(tarified):
    months = {r.mois: r.total_mois for r in monthly_series(tarified).collect()}
    assert months == {
        "2023-01-01": pytest.approx(2 * 5.11 + 2.80),
        "2023-02-01": pytest.approx(3 * 2.80),
        "2023-03-01": pytest.approx(0.0),
    }


def test_tarification_pipeline_keeps_one_cached_match_set(spark):
    """Each call persists its match-set in one ``bounded_cache`` slot,
    which frees the previous call's copy: repeated calls leave the
    persisted-RDD count flat after the first."""
    from ocr_application_spark.operators.tarification_entry import tarification_pipeline

    jsc = spark.sparkContext._jsc
    rows, persisted = [], []
    for _ in range(3):
        rows.append(tarification_pipeline(spark, "/root/testdata/sf0.001").collect())
        persisted.append(jsc.getPersistentRDDs().size())
    assert persisted[1:] == [persisted[0]] * 2, persisted
    assert rows[0] == rows[1] == rows[2]
