"""Analytics-suite tests (SURVEY.md §3.2 parity): run the nine notebook
analyses over transformed fixture tables; assert shapes and the
hand-computable statistics."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from etl_airbnb_mex_spark.plans import analytics as an
from etl_airbnb_mex_spark.plans.transforms import (
    transform_listings,
    transform_reviews,
)
from tests.test_pipeline import make_listing, make_review


@pytest.fixture(scope="module")
def listings(spark):
    rows = [
        make_listing(id=i, price=f"${p}.00",
                     room_type="Entire home/apt" if i % 2 else "Private room",
                     neighbourhood_cleansed="Roma" if i % 4 else "Condesa")
        for i, p in enumerate([100, 200, 300, 400, 1000, 2000, 100, 100], 1)
    ]
    df = transform_listings(spark.createDataFrame(rows))
    df.persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def reviews(spark):
    rows = [
        make_review(id=i, date=f"2024-0{1 + i % 3}-15",
                    comments=c)
        for i, c in enumerate(
            ["good", "terrible", "plain", "excellent stay", "bad bad", "ok"], 1
        )
    ]
    return transform_reviews(spark.createDataFrame(rows))


def test_informacion_general(listings):
    row = an.informacion_general(listings).collect()[0]
    assert row["n_rows"] == 8
    assert row["n_cols"] == len(listings.columns)
    assert row["n_double_cols"] >= 9


def test_calidad_y_duplicados(listings):
    quality = an.calidad_datos(listings, top=5).collect()
    assert len(quality) == 5 and set(quality[0].asDict()) == {
        "column_name", "null_count", "completeness_pct"
    }
    dup = an.duplicados(listings).collect()[0]
    assert (dup["dup_rows"], dup["dup_keys"]) == (0, 0)


def test_distribuciones_y_trim(listings):
    d = an.distribuciones_numericas(listings, "price_clean").collect()[0]
    assert d["cnt"] == 8 and d["min"] == 100.0 and d["max"] == 2000.0
    assert d["p50"] == 250.0  # exact interpolated median of the 8 prices
    trimmed = an.trim_quantile(listings, "price_clean", 0.5)
    assert trimmed.count() == 4  # <= exact p50


def test_categorico(listings):
    top = an.analisis_categorico(listings, "neighbourhood_cleansed").collect()
    assert top[0]["neighbourhood_cleansed"] == "Roma"
    assert top[0]["cnt"] == 6 and top[0]["pct"] == 75.0


def test_precios(listings):
    suite = an.analisis_precios(listings)
    s = suite["stats"].collect()[0]
    assert s["mean_price"] == 525.0 and s["median_price"] == 250.0
    p = suite["percentiles"].collect()[0]
    assert p["p50"] == 250.0
    by_room = {r["room_type_normalizado"]: r for r in suite["por_room_type"].collect()}
    assert by_room["Casa/Departamento completo"]["count"] == 4


def test_price_quantiles_skip_nan(spark):
    """NaN is missing in the quantile helpers, as in pandas: on 1..100
    plus 5 NaN, ``df[df.p <= df.p.quantile(0.99)]`` keeps 99 rows and
    every median is 50.5. A raw ``percentile``/``median`` aggregate
    sorts NaN above every value: the q99 threshold turns NaN (keeping
    all 105 rows) and the median reads 53.0."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(float(i), "Habitación privada") for i in range(1, 101)]
        + [(nan, "Habitación privada")] * 5,
        "price_clean double, room_type_normalizado string",
    )
    trimmed = an.trim_quantile(df, "price_clean", 0.99).collect()
    assert len(trimmed) == 99
    assert max(r["price_clean"] for r in trimmed) == 99.0
    suite = an.analisis_precios(df)
    assert suite["stats"].collect()[0]["median_price"] == 50.5
    assert suite["por_room_type"].collect()[0]["median"] == 50.5


def test_reviews_suite(reviews):
    suite = an.analisis_reviews(reviews)
    rng = suite["rango_fechas"].collect()[0]
    assert rng["min_ts"].startswith("2024-01-15")
    assert rng["max_ts"].startswith("2024-03-15")
    months = {r["month"]: r["cnt"] for r in suite["por_mes"].collect()}
    assert months == {"2024-01-01": 2, "2024-02-01": 2, "2024-03-01": 2}
    sent = suite["sentimiento"].collect()[0]
    # good(+1), terrible(−2 dup), plain(0), excellent(+1), bad(−1), ok(0)
    assert (sent["n_pos"], sent["n_neg"], sent["n_neutral"]) == (2, 2, 2)


def test_outliers(listings):
    out = an.analisis_outliers(listings, ["price_clean"])["price_clean"].collect()[0]
    # Q1=100, Q3=850 → IQR=750 → hi=1975 → only the 2000 row is flagged
    assert out["outlier_count"] == 1
    assert out["outlier_min"] == 2000.0


def test_correlaciones(spark):
    df = spark.createDataFrame(
        [Row(a=float(i), b=float(2 * i), c=float(-i), d=None if i else 1.0)
         for i in range(100)]
    )
    corr = an.analisis_correlaciones(df, ["a", "b", "c", "d"], min_non_null=50)
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in corr.collect()}
    # d screened out (1 non-null); perfect correlations on a/b/c
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")] == 1.0 and got[("a", "c")] == -1.0
    ranked = an.correlacion_vs_target(corr, "a").collect()
    assert [r["column"] for r in ranked] == ["b", "c"]


def test_resumen_final(listings, reviews):
    rows = {r["tabla"]: r["registros"]
            for r in an.resumen_final({"listings": listings, "reviews": reviews}).collect()}
    assert rows["TOTAL"] == rows["listings"] + rows["reviews"]


def test_generar_graficos_artifacts(listings, reviews, tmp_path):
    """§3.2 — the 8 reference chart artifacts are produced from
    transformed tables (CSV fallback here: no matplotlib in this
    container; the aggregation is identical either way)."""
    import os

    from etl_airbnb_mex_spark.plans.plots import generar_graficos

    paths = generar_graficos(listings, reviews, str(tmp_path / "charts"))
    assert len(paths) == 8
    for p in paths:
        assert os.path.exists(p) and os.path.getsize(p) > 0
    # spot-check one artifact's content is the real aggregate
    top = [p for p in paths if "top_neighbourhoods" in p][0]
    text = open(top).read()
    assert "Roma" in text or "Condesa" in text


# ---------------------------------------------------------------------------
# Reference-golden relationships
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def golden_listings(spark):
    """A fixture shaped like the reference's recorded distributions
    (BASELINE.md goldens, nb15): ~65% Entire home/apt, ~46% hot
    neighbourhood (the Cuauhtémoc skew case), right-skewed lognormal
    prices. Deterministic seed so the asserted relationships are stable."""
    import random

    rng = random.Random(20260813)
    rows = []
    for i in range(1, 401):
        u = rng.random()
        room = (
            "Entire home/apt" if u < 0.653
            else "Private room" if u < 0.92
            else "Shared room" if u < 0.97
            else "Hotel room"
        )
        v = rng.random()
        hood = (
            "Cuauhtémoc" if v < 0.459
            else "Miguel Hidalgo" if v < 0.65
            else "Benito Juárez" if v < 0.82
            else "Coyoacán" if v < 0.93
            else "Tlalpan"
        )
        price = rng.lognormvariate(6.8, 0.85)
        rows.append(make_listing(
            id=i, price=f"{price:.2f}", room_type=room,
            neighbourhood_cleansed=hood,
            minimum_nights=str(rng.choice(
                [1] * 5 + [2] * 4 + [3] * 3 + [5] * 2 + [30, 365]
            )),
        ))
    df = transform_listings(spark.createDataFrame(rows))
    df.persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def golden_reviews(spark):
    """Reference sentiment split shape: 53.4% pos / 0.5% neg / 46.1%
    neutral over 2011→2025 review dates."""
    import random

    rng = random.Random(20260814)
    rows = []
    for i in range(1, 301):
        u = rng.random()
        comment = (
            "A really good stay, excellent host" if u < 0.534
            else "terrible, awful place" if u < 0.539
            else "We stayed four nights near the center"
        )
        year = 2011 + (i % 15)  # 2011..2025
        rows.append(make_review(
            id=i, listing_id=1 + (i % 50),
            date=f"{year}-{1 + i % 12:02d}-{1 + i % 28:02d}",
            comments=comment,
        ))
    df = transform_reviews(spark.createDataFrame(rows))
    df.persist()
    yield df
    df.unpersist()


def test_golden_price_relationships(golden_listings):
    """BASELINE.md price goldens as *relationships*: strictly increasing
    percentile ladder, right skew (mean > median, as 1742.60 > 909.00),
    and positive spread."""
    suite = an.analisis_precios(golden_listings)
    s = suite["stats"].collect()[0]
    assert s["mean_price"] > s["median_price"] > 0
    assert s["std_price"] > 0
    assert s["min_price"] < s["median_price"] < s["max_price"]
    p = suite["percentiles"].collect()[0]
    ladder = [p["p25"], p["p50"], p["p75"], p["p90"], p["p95"], p["p99"]]
    assert ladder == sorted(ladder) and len(set(ladder)) == 6, ladder


def test_golden_categorical_shares(golden_listings):
    """Top room_type is Entire home/apt at a 50–80% share (ref 65.3%);
    top neighbourhood takes 35–55% (ref Cuauhtémoc 45.9% — the skew
    case salted_join exists for)."""
    rt = an.analisis_categorico(golden_listings, "room_type_normalizado").collect()
    assert rt[0]["room_type_normalizado"] == "Casa/Departamento completo"
    assert 50.0 < rt[0]["pct"] < 80.0
    hood = an.analisis_categorico(
        golden_listings, "neighbourhood_cleansed_clean"
    ).collect()
    assert hood[0]["neighbourhood_cleansed_clean"] == "Cuauhtémoc"
    assert 35.0 < hood[0]["pct"] < 55.0


def test_golden_outlier_bounds(golden_listings):
    """IQR outlier share stays in the reference's neighborhood: nonzero
    but bounded (ref: price 7.0%, minimum_nights 13.1%)."""
    out = an.analisis_outliers(
        golden_listings, ["price_clean", "minimum_nights_clean"]
    )
    n_total = golden_listings.count()
    for col, df in out.items():
        r = df.collect()[0]
        pct = 100.0 * r["outlier_count"] / n_total
        assert 0.0 < pct < 20.0, (col, pct)


def test_golden_sentiment_split(golden_reviews):
    """Sentiment split signs match the reference (53.4/0.5/46.1, mean
    0.67): positives dominate negatives by >10x, neutral is a large
    minority, and the mean is positive."""
    suite = an.analisis_reviews(golden_reviews)
    s = suite["sentimiento"].collect()[0]
    n = s["n_pos"] + s["n_neg"] + s["n_neutral"]
    assert s["n_pos"] > 10 * s["n_neg"]
    assert 0.30 < s["n_neutral"] / n < 0.60
    assert s["n_pos"] / n > 0.45
    assert s["avg_sentiment"] > 0
    rng = suite["rango_fechas"].collect()[0]
    assert str(rng["min_ts"])[:4] == "2011"
    assert str(rng["max_ts"])[:4] == "2025"
