"""Golden pipeline test (SURVEY.md §5.3.4, FIXTURES.md B).

Airbnb-shaped synthetic fixtures exercising every messy-value domain in
FIXTURES.md B.1–B.3, run through the full E-T-L; asserts the recorded
invariants of FIXTURES.md B.4: derived-column names, drop accounting,
bucket boundary semantics, and the duplicate-lexicon sentiment rule.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from etl_airbnb_mex_spark.plans.transforms import (
    transform_calendar,
    transform_listings,
    transform_reviews,
)

LISTING_DEFAULTS = dict(
    _id="0fa1",
    id=1,
    name=" Casa Azul ",
    description="Nice place",
    neighbourhood_cleansed="Cuauhtémoc",
    latitude=19.4,
    longitude=-99.1,
    property_type="Apartment",
    room_type="Entire home/apt",
    accommodates="2",
    bedrooms="1",
    beds="1",
    minimum_nights="2",
    maximum_nights="30",
    availability_30="10",
    availability_60="20",
    availability_90="30",
    availability_365="100",
    amenities='["Wifi", "Kitchen"]',
    price="$1,234.00",
    host_since="2019-05-04",
    calendar_last_scraped="2025-10-01",
    last_scraped='{"$date": "2025-10-02T00:00:00Z"}',
    host_is_superhost="t",
    host_identity_verified="f",
    has_availability="SI ",
    review_scores_rating=4.8,
    reviews_per_month=1.2,
)


def make_listing(**over):
    return Row(**{**LISTING_DEFAULTS, **over})


REVIEW_DEFAULTS = dict(
    _id="ra01",
    id=1,
    listing_id=1,
    date="2024-06-15",
    reviewer_id=7,
    reviewer_name="john SMITH",
    comments="A good stay",
)


def make_review(**over):
    return Row(**{**REVIEW_DEFAULTS, **over})


#: FIXTURES.md B.4 derived-name invariants.
LISTING_DERIVED = (
    ["price_clean", "categoria_precio"]
    + [f"{c}_clean" for c in ("host_since", "calendar_last_scraped", "last_scraped")]
    + ["amenities_procesados"]
    + [
        "amenity_wifi", "amenity_kitchen", "amenity_air_conditioning",
        "amenity_heating", "amenity_tv", "amenity_washer", "amenity_dryer",
        "amenity_pool", "amenity_gym", "amenity_parking",
    ]
    + ["room_type_normalizado", "property_type_normalizado"]
    + [f"{c}_bin" for c in ("host_is_superhost", "host_identity_verified", "has_availability")]
    + [
        f"{c}_clean"
        for c in (
            "accommodates", "bedrooms", "beds", "minimum_nights",
            "maximum_nights", "availability_30", "availability_60",
            "availability_90", "availability_365",
        )
    ]
    + [f"{c}_clean" for c in ("name", "description", "neighbourhood_cleansed")]
)

REVIEW_DERIVED = [
    "date_clean", "año", "mes", "dia", "trimestre", "dia_semana",
    "nombre_mes", "comments_clean", "comments_length", "sentiment_score",
    "reviewer_name_clean",
]


@pytest.fixture(scope="module")
def listings_df(spark):
    rows = [
        make_listing(id=1),
        # duplicate id → keep-first (D1)
        make_listing(id=1, name="DUP should drop"),
        # critical nulls → dropped (P2)
        make_listing(id=None),
        make_listing(id=3, latitude=None),
        # messy price domain incl. exact bucket boundaries (F1/F9)
        make_listing(id=10, price="$500.00"),
        make_listing(id=11, price="500.01"),
        make_listing(id=12, price="$1,000.00"),
        make_listing(id=13, price="2000"),
        make_listing(id=14, price="$5,000.00"),
        make_listing(id=15, price="$5,000.01"),
        make_listing(id=16, price=None),       # NULL→0.0→'Económico' trap
        make_listing(id=17, price="N/A"),      # unparseable→0.0
        make_listing(id=18, price=""),
        # amenities fallbacks (F19-F21)
        make_listing(id=20, amenities='["Fast wifi – 400 Mbps", "Air conditioning unit"]'),
        make_listing(id=21, amenities="WiFi"),
        make_listing(id=22, amenities=""),
        make_listing(id=23, amenities="nan"),
        make_listing(id=24, amenities=None),
        make_listing(id=25, amenities="[unclosed"),
        # category maps (F10)
        make_listing(id=30, room_type=None, property_type="Entire rental unit"),
        # booleans (F11)
        make_listing(id=31, host_is_superhost=" True ", host_identity_verified="si", has_availability=None),
        make_listing(id=32, host_is_superhost="0", host_identity_verified="YES", has_availability="1"),
        # numeric coercion (F14)
        make_listing(id=33, accommodates="abc", bedrooms="", beds=None, minimum_nights="1125"),
        # date handling (F15/F18) incl. $date struct and junk
        make_listing(id=34, host_since='{"$date": "2019-05-04T12:00:00Z"}',
                     calendar_last_scraped="not-a-date", last_scraped=None),
        # text fill (F8)
        make_listing(id=35, name=None, description="  padded  ", neighbourhood_cleansed=None),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def listings_out(listings_df):
    df = transform_listings(listings_df)
    rows = {r["id"]: r for r in df.collect()}
    return df, rows


def test_listings_derived_columns(listings_out, listings_df):
    df, _ = listings_out
    assert [c for c in df.columns if c not in listings_df.columns] == LISTING_DERIVED
    # width invariant: 28 input cols + 33 derived (B.4)
    assert len(df.columns) == len(listings_df.columns) + 33


def test_listings_drop_accounting(listings_out, listings_df):
    _, rows = listings_out
    # 25 input rows − 1 NULL id − 1 NULL latitude − 1 duplicate id = 22
    assert len(rows) == 22
    assert rows[1]["name"] == " Casa Azul "  # keep-FIRST, not the dup


def test_price_buckets_exact_boundaries(listings_out):
    _, r = listings_out
    got = {k: (r[k]["price_clean"], r[k]["categoria_precio"]) for k in
           (10, 11, 12, 13, 14, 15, 16, 17, 18, 1)}
    assert got[10] == (500.0, "Económico")       # <=500 inclusive
    assert got[11] == (500.01, "Medio")
    assert got[12] == (1000.0, "Medio")
    assert got[13] == (2000.0, "Medio-Alto")
    assert got[14] == (5000.0, "Alto")
    assert got[15] == (5000.01, "Premium")
    assert got[16] == (0.0, "Económico")         # NULL→0→Económico trap
    assert got[17] == (0.0, "Económico")
    assert got[18] == (0.0, "Económico")
    assert got[1] == (1234.0, "Medio-Alto")


def test_amenities_flags_and_fallbacks(listings_out):
    _, r = listings_out
    assert r[1]["amenities_procesados"] == ["Wifi", "Kitchen"]
    assert (r[1]["amenity_wifi"], r[1]["amenity_kitchen"]) == (1, 1)
    # unicode punctuation cleaned; substring containment flags
    assert r[20]["amenities_procesados"] == ["Fast wifi  400 Mbps", "Air conditioning unit"]
    assert r[20]["amenity_wifi"] == 1 and r[20]["amenity_air_conditioning"] == 1
    assert r[21]["amenities_procesados"] == ["WiFi"]  # bare string
    for k in (22, 23, 24, 25):  # ''/'nan'/NULL/malformed → empty
        assert r[k]["amenities_procesados"] == []
        assert r[k]["amenity_wifi"] == 0


def test_category_maps(listings_out):
    _, r = listings_out
    assert r[1]["room_type_normalizado"] == "Casa/Departamento completo"
    assert r[1]["property_type_normalizado"] == "Departamento"
    assert r[30]["room_type_normalizado"] == "No especificado"   # NULL
    assert r[30]["property_type_normalizado"] == "Entire rental unit"  # passthrough


def test_boolean_encoding(listings_out):
    _, r = listings_out
    assert (r[1]["host_is_superhost_bin"], r[1]["host_identity_verified_bin"],
            r[1]["has_availability_bin"]) == (1, 0, 1)  # 't','f','SI '
    assert (r[31]["host_is_superhost_bin"], r[31]["host_identity_verified_bin"],
            r[31]["has_availability_bin"]) == (1, 1, 0)  # ' True ','si',NULL
    assert (r[32]["host_is_superhost_bin"], r[32]["host_identity_verified_bin"],
            r[32]["has_availability_bin"]) == (0, 1, 1)  # '0','YES'→?,'1'
    # NB 'YES' IS in the truthy set ('yes'); '0' is not.


def test_numeric_coercion(listings_out):
    _, r = listings_out
    assert (r[33]["accommodates_clean"], r[33]["bedrooms_clean"],
            r[33]["beds_clean"], r[33]["minimum_nights_clean"]) == (0.0, 0.0, 0.0, 1125.0)


def test_date_normalization(listings_out):
    _, r = listings_out
    assert r[1]["host_since_clean"] == "2019-05-04"
    assert r[1]["last_scraped_clean"] == "2025-10-02"  # $date unwrap
    assert r[34]["host_since_clean"] == "2019-05-04"   # $date with time
    assert r[34]["calendar_last_scraped_clean"] is None  # junk → NULL
    assert r[34]["last_scraped_clean"] is None


def test_text_fill(listings_out):
    _, r = listings_out
    assert r[35]["name_clean"] == "No especificado"
    assert r[35]["description_clean"] == "padded"
    assert r[1]["name_clean"] == "Casa Azul"


@pytest.fixture(scope="module")
def reviews_out(spark):
    rows = [
        make_review(id=1, date="2024-06-15", comments="A good stay"),
        make_review(id=1, comments="dup drops"),
        make_review(id=None),
        make_review(id=3, listing_id=None),
        # Monday check: 2024-06-17 is a Monday → dia_semana 0
        make_review(id=10, date="2024-06-17"),
        make_review(id=11, date='{"$date": "2011-04-02T00:00:00Z"}'),
        make_review(id=12, date=None),
        # duplicate-lexicon rule: good(+1) − (terrible×2 + horrible×2) = −3
        make_review(id=20, comments="good but terrible, horrible place"),
        make_review(id=21, comments="GOODNESS gracious"),  # containment
        make_review(id=22, comments=None),                 # → 'nan', len 3
        make_review(id=23, reviewer_name="o'brien", comments="excelente y maravilloso"),
        make_review(id=24, reviewer_name=None),
    ]
    df = transform_reviews(spark.createDataFrame(rows))
    return df, {r["id"]: r for r in df.collect()}


def test_reviews_derived_columns(reviews_out, spark):
    df, rows = reviews_out
    assert [c for c in df.columns if c not in REVIEW_DEFAULTS] == REVIEW_DERIVED
    assert len(df.columns) == 7 + 11
    assert len(rows) == 9  # 12 − null id − null listing_id − dup


def test_reviews_dates(reviews_out):
    _, r = reviews_out
    assert r[1]["date_clean"] == "2024-06-15"
    assert (r[1]["año"], r[1]["mes"], r[1]["dia"], r[1]["trimestre"]) == (2024, 6, 15, 2)
    assert r[10]["dia_semana"] == 0          # Monday=0 (pandas convention)
    assert r[1]["nombre_mes"] == "June"
    assert r[11]["date_clean"] == "2011-04-02"
    assert r[12]["date_clean"] is None


def test_reviews_sentiment(reviews_out):
    _, r = reviews_out
    assert r[1]["sentiment_score"] == 1
    assert r[20]["sentiment_score"] == -3    # duplicate lexicon ×2
    assert r[21]["sentiment_score"] == 1     # 'goodness' contains 'good'
    assert r[22]["sentiment_score"] == 0
    assert r[23]["sentiment_score"] == 2


def test_reviews_text_compat(reviews_out):
    _, r = reviews_out
    assert r[22]["comments_clean"] == "nan"
    assert r[22]["comments_length"] == 3     # astype(str) NULL→'nan' trap
    assert r[1]["reviewer_name_clean"] == "John Smith"
    assert r[24]["reviewer_name_clean"] is None


def test_calendar_transform(spark):
    rows = [
        Row(listing_id=1, date="2025-01-01", available="t", price="$100.00"),
        Row(listing_id=1, date="2025-01-02", available="f", price="200"),
        Row(listing_id=1, date="2025-01-03", available="maybe", price=None),
        Row(listing_id=None, date="2025-01-04", available="t", price="1"),
        Row(listing_id=2, date=None, available="t", price="1"),
    ]
    df = transform_calendar(spark.createDataFrame(rows))
    got = {(r["listing_id"], r["date"]): r for r in df.collect()}
    assert len(got) == 3
    assert got[(1, "2025-01-01")]["available_bin"] == 1
    assert got[(1, "2025-01-02")]["available_bin"] == 0
    assert got[(1, "2025-01-03")]["available_bin"] == 0  # else→0
    assert got[(1, "2025-01-01")]["price_clean"] == 100.0
    assert got[(1, "2025-01-03")]["price_clean"] == 0.0


def test_full_pipeline_run(spark, tmp_path_factory):
    """E-T-L end-to-end: write fixture parquet → run_pipeline → verify
    report counts, sink schemas (no _id, arrays stringified), and the
    missing-calendar path (the reference's recorded run, log:31)."""
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl")
    lst = [make_listing(id=i) for i in range(1, 9)] + [make_listing(id=None)]
    rev = [make_review(id=i, listing_id=1 + i % 3) for i in range(1, 21)]
    spark.createDataFrame(lst).write.parquet(str(tmp / "listings_raw"))
    spark.createDataFrame(rev).write.parquet(str(tmp / "reviews_raw"))

    report = run_pipeline(
        spark,
        {"listings": str(tmp / "listings_raw"), "reviews": str(tmp / "reviews_raw")},
        str(tmp / "out"),
        report_path=str(tmp / "reporte.json"),
    )
    assert report["tablas"]["listings"]["extraidos"] == 9
    assert report["tablas"]["listings"]["cargados"] == 8   # NULL id dropped
    assert report["tablas"]["reviews"]["cargados"] == 20
    assert report["tablas"]["calendar"]["cargados"] == 0   # absent source
    assert report["total_registros"] == 28

    out = spark.read.parquet(str(tmp / "out" / "raw_listings_transformado"))
    assert "_id" not in out.columns                         # S8
    assert dict(out.dtypes)["amenities_procesados"] == "string"  # S9
    assert json.loads((tmp / "reporte.json").read_text())["total_registros"] == 28


def test_pipeline_reports_action_metrics(spark, tmp_path_factory):
    """S12 + §3.1.f — the run report carries one row per Spark action:
    the load and the verification, with wall clock and row count. No
    extraction action exists: the write's plan counts extracted rows."""
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl_metrics")
    spark.createDataFrame(
        [make_review(id=i) for i in range(1, 6)]
    ).write.parquet(str(tmp / "reviews_raw"))
    report = run_pipeline(
        spark, {"reviews": str(tmp / "reviews_raw")}, str(tmp / "out")
    )
    actions = {a["accion"]: a for a in report["acciones"]}
    assert "extraccion_reviews" not in actions
    assert actions["carga_reviews"]["filas"] == 5
    assert actions["verificacion_reviews"]["filas"] == 5
    assert all(a["duracion_ms"] >= 0 for a in report["acciones"])


def test_pipeline_counts_rows_in_flight(spark, tmp_path_factory):
    """One input table costs at most 5 Spark jobs (its write, which
    counts extracted and transformed rows through observations, and the
    verify re-read); absent tables cost none. The NULL-key drop and the
    dedup show as extraidos − transformados, and an existing empty input
    is still written."""
    import os

    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline
    from etl_airbnb_mex_spark.sources.readers import AIRBNB_SCHEMAS

    tmp = tmp_path_factory.mktemp("etl_observed")
    lst = [make_listing(id=i) for i in range(1, 9)] + [
        make_listing(id=None), make_listing(id=1, name="DUP should drop"),
    ]
    spark.createDataFrame(lst).write.parquet(str(tmp / "listings_raw"))
    spark.createDataFrame(
        [make_review(id=None), make_review(id=None, comments="other")],
        AIRBNB_SCHEMAS["reviews"],
    ).write.parquet(str(tmp / "reviews_raw"))
    spark.createDataFrame([], AIRBNB_SCHEMAS["calendar"]).write.parquet(
        str(tmp / "calendar_raw"))

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run_in_group(group: str, paths: dict[str, str]):
        sc.setJobGroup(group, group)
        try:
            report = run_pipeline(spark, paths, str(tmp / group))
        finally:
            sc._jsc.clearJobGroup()
        # Job starts reach the status tracker through the listener bus.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return report, len(tracker.getJobIdsForGroup(group))

    report, jobs = run_in_group(
        "one_table", {"listings": str(tmp / "listings_raw")})
    assert jobs <= 5
    t = report["tablas"]["listings"]
    assert (t["extraidos"], t["transformados"], t["cargados"]) == (10, 8, 8)
    for absent in ("reviews", "calendar"):
        t = report["tablas"][absent]
        assert (t["extraidos"], t["transformados"], t["cargados"]) == (0, 0, 0)
        assert "ruta" not in t

    _, jobs = run_in_group("no_tables", {})
    assert jobs == 0

    report = run_pipeline(
        spark,
        {"reviews": str(tmp / "reviews_raw"),
         "calendar": str(tmp / "calendar_raw")},
        str(tmp / "out"),
    )
    t = report["tablas"]["reviews"]
    assert (t["extraidos"], t["transformados"], t["cargados"]) == (2, 0, 0)
    t = report["tablas"]["calendar"]
    assert (t["extraidos"], t["transformados"], t["cargados"]) == (0, 0, 0)
    assert os.path.isdir(t["ruta"])


def test_pipeline_rejects_limit_below_one(spark, tmp_path_factory):
    """A cap below one row is bad input: run_pipeline raises naming the
    value, and the CLI exits 1 instead of reporting a 0-row success."""
    from etl_airbnb_mex_spark.cli import main
    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl_limit")
    spark.createDataFrame(
        [make_review(id=i) for i in range(1, 4)]
    ).write.parquet(str(tmp / "reviews_raw"))
    paths = {"reviews": str(tmp / "reviews_raw")}
    for bad in (0, -1):
        with pytest.raises(ValueError, match=f"got {bad}"):
            run_pipeline(spark, paths, str(tmp / "out"), limit=bad)
    cfg = tmp / "etl.json"
    cfg.write_text(json.dumps(
        {"entradas": paths, "salida": str(tmp / "out"), "limite": 0}))
    assert main(["--config", str(cfg)]) == 1
    assert not (tmp / "out").exists()


def test_quality_report_on_transformed_reviews(reviews_out):
    """Regression: null_profile must handle non-identifier column names
    — transform_reviews emits 'año', which crashed the unquoted stack()
    SQL (code-review finding)."""
    from etl_airbnb_mex_spark.plans.quality import quality_report

    df, _ = reviews_out
    rows = quality_report(df).collect()
    names = {r["column_name"] for r in rows}
    assert "año" in names
    assert all(r["completeness_pct"] <= 100.0 for r in rows)


def test_cli_end_to_end(spark, tmp_path_factory):
    """§3.1 CLI parity: config + flags, --limite cap, JSON summary line,
    exit code 0 (in-process main(); the driver smoke covers module
    import)."""
    from etl_airbnb_mex_spark.cli import main

    tmp = tmp_path_factory.mktemp("cli")
    spark.createDataFrame(
        [make_review(id=i) for i in range(1, 31)]
    ).write.parquet(str(tmp / "reviews_raw"))
    cfg = tmp / "etl.json"
    cfg.write_text(json.dumps({
        "entradas": {"reviews": str(tmp / "reviews_raw")},
        "salida": str(tmp / "out"),
        "limite": 10,
        "reporte": str(tmp / "reporte.json"),
    }))
    rc = main(["--config", str(cfg)])
    assert rc == 0
    report = json.loads((tmp / "reporte.json").read_text())
    assert report["tablas"]["reviews"]["extraidos"] == 10   # --limite cap
    assert report["total_registros"] == 10

    rc_bad = main(["--salida", str(tmp / "out2")])
    assert rc_bad == 1  # no inputs -> error exit, like the reference


def test_transforms_on_empty_inputs(spark):
    """Robustness: every transform analyzes and executes on an EMPTY
    frame with the declared schema (the reference's missing-collection
    path) — same derived columns, zero rows."""
    from etl_airbnb_mex_spark.plans.transforms import TRANSFORMS
    from etl_airbnb_mex_spark.sources.readers import AIRBNB_SCHEMAS

    for name, fn in TRANSFORMS.items():
        empty = spark.createDataFrame([], AIRBNB_SCHEMAS[name])
        out = fn(empty)
        assert out.count() == 0
        assert len(out.columns) > len(empty.columns)


def test_catalog_helpers(spark, sf_dir):
    from etl_airbnb_mex_spark.tables import (
        catalog_tables,
        register_views,
        table_exists,
    )

    register_views(spark, sf_dir)
    names = catalog_tables(spark)
    assert "orders" in names and "documents" in names
    assert table_exists(spark, "lineitem")
    assert not table_exists(spark, "no_such_collection")
    assert spark.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"] > 0


def test_pipeline_partitioned_write(spark, tmp_path_factory):
    """partition_spec routes through to the sink: reviews partitioned by
    año produce year directories (partition pruning for readers)."""
    import os

    from etl_airbnb_mex_spark.plans.pipeline import run_pipeline

    tmp = tmp_path_factory.mktemp("etl_part")
    spark.createDataFrame(
        [make_review(id=i, date=f"20{20 + i % 3}-06-15") for i in range(1, 16)]
    ).write.parquet(str(tmp / "reviews_raw"))
    report = run_pipeline(
        spark,
        {"reviews": str(tmp / "reviews_raw")},
        str(tmp / "out"),
        partition_spec={"reviews": ("año",)},
    )
    assert report["tablas"]["reviews"]["cargados"] == 15
    out_dir = str(tmp / "out" / "raw_reviews_transformado")
    years = [d for d in os.listdir(out_dir) if d.startswith("año=")]
    assert len(years) == 3


def test_corpus_pipeline_end_to_end(spark, sf_dir):
    """The composed hygiene chain: stage counts monotone non-increasing,
    survivors carry no exact duplicate texts, PII is scrubbed, and every
    survivor clears the quality gates."""
    from pyspark.sql import functions as F

    from etl_airbnb_mex_spark.plans.corpus import (
        corpus_pipeline,
        corpus_pipeline_report,
    )
    from etl_airbnb_mex_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    eval_set = d.filter(F.col("doc_id") % 97 == 0)

    report = corpus_pipeline_report(corpus, eval_set)
    vals = list(report.values())
    assert vals == sorted(vals, reverse=True), report
    cleaned = corpus_pipeline(corpus, eval_set)
    rows = cleaned.collect()
    assert len(rows) == vals[-1]
    texts = [r["clean_text"] for r in rows]
    assert len(set(texts)) == len(texts), "exact dups survived"
    assert all(r["n_tokens"] >= 5 for r in rows)
    assert not any("@" in t for t in texts if t)


def test_corpus_pipeline_scrubs_planted_pii(spark):
    from etl_airbnb_mex_spark.plans.corpus import corpus_pipeline

    docs = spark.createDataFrame(
        [
            (1, "contact me at bob@example.com for the data set please"),
            (2, "server at 10.1.2.3 answered with the records we need"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clean_text"]
           for r in corpus_pipeline(docs, min_tokens=3).collect()}
    assert "<EMAIL>" in got[1] and "@" not in got[1]
    assert "<IP>" in got[2] and "10.1.2.3" not in got[2]


def test_shj_threshold_formula_matches_shipped_conf():
    """The r11 sf24 OOM fix is config math (session.py): the SHJ gate
    must divide the unified-memory execution pool across ALL
    concurrent builders and the hashmap expansion. Pin the formula on
    synthetic (pool, slots, expansion) triples and assert the shipped
    16 MiB conf sits AT OR BELOW the local-shape bound — if either
    side drifts, this test names which (VERDICT r11 #10)."""
    import pytest

    from etl_airbnb_mex_spark.session import (
        SHJ_LOCAL_MAP_THRESHOLD,
        shj_local_map_threshold,
    )

    gib = 1024 ** 3
    # local shape: 8g heap, 32 slots, 0.6 pool, 6x expansion -> 25.6 MiB
    local_bound = shj_local_map_threshold(8 * gib, 32)
    assert local_bound == int(8 * gib * 0.6 / 32 / 6.0) == 26_843_545
    # the shipped conf (16 MiB) must be within the safe region
    assert SHJ_LOCAL_MAP_THRESHOLD <= local_bound
    # synthetic triples: a big-executor cluster shape and a skinny one
    assert shj_local_map_threshold(
        64 * gib, 16, execution_fraction=0.6, hashmap_expansion=4.0
    ) == int(64 * gib * 0.6 / 16 / 4.0)
    assert shj_local_map_threshold(
        2 * gib, 8, execution_fraction=0.5, hashmap_expansion=6.0
    ) == int(2 * gib * 0.5 / 8 / 6.0)
    # the r10 failure reproduced in units: at 64 MiB the gate admits
    # builds whose EXPANDED concurrent footprint exceeds the pool
    r10_gate = 64 * 1024 * 1024
    assert r10_gate * 32 * 6.0 > 8 * gib * 0.6
    # and the fixed gate does not
    assert SHJ_LOCAL_MAP_THRESHOLD * 32 * 6.0 <= 8 * gib * 0.6
    # degenerate shapes must raise, not return nonsense
    with pytest.raises(ValueError):
        shj_local_map_threshold(0, 32)
    with pytest.raises(ValueError):
        shj_local_map_threshold(8 * gib, 32, hashmap_expansion=0.5)


class _ReadOnlyConf:
    """A session conf whose ``set`` always fails; ``get`` reads
    ``values``."""

    def __init__(self, values: dict[str, str]):
        self.values = values

    def set(self, key, value):
        raise RuntimeError(f"cannot modify {key}")

    def get(self, key, default=None):
        return self.values.get(key, default)


class _FakeSession:
    def __init__(self, values: dict[str, str]):
        self.conf = _ReadOnlyConf(values)


def test_ensure_parity_conf_logs_and_raises_on_conf_failure(caplog):
    """A parity conf that cannot be set is logged with its key; when the
    session does not already hold the parity value, it raises instead
    of running queries under different semantics."""
    import logging

    from etl_airbnb_mex_spark.session import PARITY_CONF, ensure_parity_conf

    held = _FakeSession(dict(PARITY_CONF))
    with caplog.at_level(logging.WARNING, logger="etl_airbnb_mex_spark"):
        assert ensure_parity_conf(held) is held
    warned = [r for r in caplog.records if r.name == "etl_airbnb_mex_spark"]
    assert len(warned) == len(PARITY_CONF)
    for key, record in zip(PARITY_CONF, warned):
        assert record.levelno == logging.WARNING
        assert key in record.getMessage()

    wrong = dict(PARITY_CONF, **{"spark.sql.ansi.enabled": "true"})
    with pytest.raises(RuntimeError, match="spark.sql.ansi.enabled"):
        ensure_parity_conf(_FakeSession(wrong))


def test_get_spark_defaults_to_affinity_cpus():
    """With ``SPARK_GRAFT_CPUS`` unset, the local master and the shuffle
    partitions match the CPUs this process may run on, so a default
    session never oversubscribes the machine."""
    import os
    import pathlib
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = str(pathlib.Path(__file__).resolve().parent.parent)
    env["SPARK_DRIVER_MEM"] = "1g"
    probe = (
        "from etl_airbnb_mex_spark.session import get_spark\n"
        "s = get_spark(app_name='cpu-default-probe')\n"
        "print(s.sparkContext.defaultParallelism,"
        " s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, capture_output=True,
        text=True, timeout=300, check=True,
    ).stdout.split()
    cpus = len(os.sched_getaffinity(0))
    assert out[-2:] == [str(cpus), str(cpus)]
