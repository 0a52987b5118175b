"""The reference's etl.ipynb orchestration over ALL 12 sources:
``run_all`` drives retrieve → transform (+M49 filter, year cut) →
versioned load per pipeline, each on a raw payload shaped like its
source. Asserts every source lands a canonical-schema versioned
dataset, then rebuilds the star schema over the union and checks the
observation view reconstructs the loaded relation losslessly (the
12-source analogue of ind_pipeline_e2e)."""

from __future__ import annotations

import threading
from pathlib import Path
from urllib.parse import urlparse

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql import functions as F

from dfx_indicators_etl_spark import database, validation
from dfx_indicators_etl_spark.pipelines import (
    PipelineSettings,
    get_pipeline,
    imf_datamapper_api,
    list_pipelines,
    run_all,
    union_all,
    who_gho_api,
)
from dfx_indicators_etl_spark.sources import sinks

CANON = [f.name for f in validation.DATA_SCHEMA.fields]


@pytest.fixture(scope="module")
def country_mapping(spark):
    return spark.createDataFrame(
        [
            ("Albania", "8", "ALB"),
            ("France", "250", "FRA"),
            ("Germany", "276", "DEU"),
        ],
        ["name", "m49", "iso_alpha_3"],
    )


def _all_inputs(spark, tmp, country_mapping):
    """Retriever kwargs per source: pre-staged payload frames for the
    API sources, staged CSV files for the bulk-download sources."""
    wdi_csv = tmp / "wdi.csv"
    wdi_csv.write_text(
        "Country Name,Country Code,Indicator Name,Indicator Code,2015,2016\n"
        "France,FRA,GDP,NY.GDP,2.0,3.0\n"
    )
    ghdx_csv = tmp / "ghdx.csv"
    ghdx_csv.write_text(
        "location_name,measure_name,metric_name,sex_name,age_name,"
        "cause_name,year,val\n"
        "France,Deaths,Rate,Both sexes,15-49 years,All causes,2020,3.2\n"
    )
    sdgdb_csv = tmp / "sdgdb.csv"
    sdgdb_csv.write_text(
        "Goal,Target,Indicator,SeriesCode,SeriesDescription,GeoAreaCode,"
        "GeoAreaName,TimePeriod,Value,Source,Units,Sex,Age\n"
        "1,1.1,1.1.1,SI_POV_DAY1,Poverty headcount,250,France,2019,2.5,"
        "WB,PERCENT,Female,ALLAGE\n"
    )
    return {
        "sipri_milex": {
            "payload": spark.createDataFrame(
                [("France", "Milex [SIPRI_X]", 7.0)],
                ["Country", "indicator_name", "2020"],
            )
        },
        "world_bank_wdi": {"path": str(wdi_csv)},
        "world_bank_api": {
            "payload": spark.createDataFrame(
                [
                    Row(
                        indicator=Row(id="SP.POP", value="Population"),
                        country=Row(id="FR", value="France"),
                        countryiso3code="FRA",
                        date="2020",
                        value=67.0,
                    )
                ]
            )
        },
        "who_gho_api": {
            "payload": spark.createDataFrame(
                [
                    ("Life expectancy", "FRA", 2020, "SEX", "SEX_FMLE",
                     None, None, None, None, "DATASOURCE_A", 85.3)
                ],
                # the retriever's explicit raw schema (all 3 dim slots)
                who_gho_api.RAW_SCHEMA,
            )
        },
        "unstats_sdg_api": {
            "payload": spark.createDataFrame(
                [
                    Row(geoAreaCode="250", timePeriodStart="2019",
                        value="12.5", seriesDescription="Poverty rate",
                        series="SI_POV", attributes={"Units": "PERCENT"},
                        dimensions={"Sex": "FEMALE"})
                ]
            )
        },
        "unstats_sdg_database": {"path": str(sdgdb_csv)},
        "unicef_sdmx_api": {
            "payload": spark.createDataFrame(
                [
                    ("FRA", "Immunization", "percent", "IMM", "Female",
                     "Under 5", "2020", "<95", "Admin", None)
                ],
                "`REF_AREA` string, `Indicator` string, "
                "`Unit of measure` string, `INDICATOR` string, `Sex` string, "
                "`Current age` string, `TIME_PERIOD` string, "
                "`OBS_VALUE` string, `DATA_SOURCE` string, "
                "`SOURCE_LINK` string",
            )
        },
        "ilo_sdmx_api": {
            "payload": spark.createDataFrame(
                [
                    ("A", "FRA", "Employment [EMP]", "SEX_F",
                     "AGE_AGGREGATE_Y25-54", "2020", 12.5, "S1", "NB")
                ],
                ["FREQ", "REF_AREA", "indicator_name", "SEX", "AGE",
                 "TIME_PERIOD", "OBS_VALUE", "SOURCE", "UNIT_MEASURE_TYPE"],
            )
        },
        "imf_datamapper_api": {
            "payload": spark.createDataFrame(
                [
                    Row(indicator_name="Real GDP growth [NGDP_RPCH]",
                        country_code="FRA",
                        values={"2019": "1.8", "2020": "-7.9"})
                ]
            )
        },
        "unaids_kpatlas": {
            "payload": spark.createDataFrame(
                [
                    ("HIV prevalence", "FRA", 2020, 0.3, "Report",
                     "Total", "pct")
                ],
                ["Indicator", "Area ID", "Time Period", "Data value",
                 "Source", "Subgroup", "Unit"],
            )
        },
        "healthdata_ghdx": {"path": str(ghdx_csv)},
        "energydata_info": {
            "payload": spark.createDataFrame(
                [(0, "France", "Solar", "On-grid", 2019, 5.0)],
                ["_row_id", "c", "tech", "grid", "y", "v"],
            )
        },
    }


def _country_dim(country_mapping):
    return country_mapping.select(
        F.col("m49").cast("int").alias("id"),
        F.substring("iso_alpha_3", 1, 2).alias("iso_2"),
        F.col("iso_alpha_3").alias("iso_3"),
        "name",
    )


def test_run_all_sweeps_every_source(spark, tmp_path, country_mapping):
    inputs = _all_inputs(spark, tmp_path, country_mapping)
    assert sorted(inputs) == list_pipelines()  # nothing skipped

    root = tmp_path / "store"
    results = run_all(
        spark,
        inputs,
        storage_root=str(root),
        country_mapping=country_mapping,
        countries=country_mapping,
        settings=PipelineSettings(year_min=2005, year_max=2030),
    )
    assert list(results) == list(inputs)  # inputs order

    import glob

    for name, df in results.items():
        assert df.columns == CANON, name
        assert df.count() > 0, name
        landed = glob.glob(f"{root}/v*/{name}.parquet")
        assert len(landed) == 1, name
        back = spark.read.parquet(landed[0])
        assert back.count() == df.count(), name
        assert {r["provider"] for r in back.select("provider").collect()} == {
            name
        }
        # Land once: the returned frame scans only its landed files.
        files = [Path(urlparse(f).path) for f in df.inputFiles()]
        assert files, name
        assert all(f.is_relative_to(root) for f in files), (name, files)

    # ... so the star still rebuilds from them once the raw files are gone.
    for staged in ("wdi.csv", "sdgdb.csv", "ghdx.csv"):
        (tmp_path / staged).unlink()

    # Star build over the union of every landed source: the series fact
    # joined back through its dims must reconstruct the union losslessly
    # (the 12-source analogue of ind_pipeline_e2e's oracle equality).
    union = union_all(list(results.values()))
    country = _country_dim(country_mapping)
    star = database.build_star_schema(union, country)
    series, ind_d, dim_d = star["series"], star["indicator"], star["dimension"]
    recon = (
        series.join(
            F.broadcast(country.select(F.col("id").alias("country_id"), "iso_3")),
            "country_id",
        )
        .join(
            F.broadcast(
                ind_d.select(F.col("id").alias("indicator_id"), "name", "provider")
            ),
            "indicator_id",
        )
        .join(
            F.broadcast(
                dim_d.select(
                    F.col("id").alias("dimension_id"),
                    F.col("name").alias("dimension"),
                )
            ),
            "dimension_id",
        )
        .select(
            "provider",
            F.col("name").alias("indicator_name"),
            F.col("iso_3").alias("country_code"),
            F.col("year").cast("int").alias("year"),
            "dimension",
            F.col("value").cast("double").alias("value"),
        )
    )
    cols = ["provider", "indicator_name", "country_code", "year",
            "dimension", "value"]
    expected = union.select(*cols)
    assert recon.count() == expected.count()
    assert recon.exceptAll(expected).count() == 0
    assert expected.exceptAll(recon).count() == 0


# Jobs that run_all + the star build + its four writes launch over the
# 12-source fixture. A refresh returning the lazy transformed frames, so
# that the star build replans every source lineage, launches 91.
MAX_REFRESH_JOBS = 79


def test_run_all_jobs_stay_in_callers_group(spark, tmp_path, country_mapping):
    """Pool workers inherit the caller's job group (so cancelJobGroup
    stops a refresh), the refresh stays within its job budget, and the
    M49 frame is computed once for all sources."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # Counts every evaluation of a mapping row: one pass over the three
    # rows when run_all materializes the mapping once.
    mapping_rows = sc.accumulator(0)

    def tick(name):
        mapping_rows.add(1)
        return name

    mapping = country_mapping.withColumn(
        "name", F.udf(tick, "string")("name")
    )
    inputs = _all_inputs(spark, tmp_path, country_mapping)
    group = "run-all-refresh"
    sc.setJobGroup(group, "12-source refresh")
    try:
        results = run_all(
            spark,
            inputs,
            storage_root=str(tmp_path / "store"),
            country_mapping=mapping,
            countries=mapping,
        )
        star = database.build_star_schema(
            union_all(list(results.values())), _country_dim(country_mapping)
        )
        for name, df in star.items():
            sinks.write_dataset(df, str(tmp_path / "star"), name, version="v1")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    # Job ids are sequential and run_all's first job (the checkpoint) is
    # in the group, so any later ungrouped job came from a pool thread.
    assert not [j for j in tracker.getJobIdsForGroup(None) if j > min(jobs)]
    assert len(jobs) <= MAX_REFRESH_JOBS, len(jobs)
    assert mapping_rows.value == country_mapping.count()


def test_run_all_failure_names_source(spark, tmp_path, country_mapping):
    """A failing source is re-raised with its name; queued sources are
    dropped, in-flight ones finish, and no pool thread outlives run_all."""
    inputs = _all_inputs(spark, tmp_path, country_mapping)
    inputs["world_bank_wdi"] = {"path": str(tmp_path / "missing.csv")}
    root = tmp_path / "store"
    with pytest.raises(AnalysisException) as info:
        run_all(
            spark,
            inputs,
            storage_root=str(root),
            country_mapping=country_mapping,
            countries=country_mapping,
        )
    assert any("world_bank_wdi" in note for note in info.value.__notes__)
    assert not [t for t in threading.enumerate() if t.name.startswith("run_all")]
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    for landed in root.glob("v*/*.parquet"):
        assert (landed / "_SUCCESS").exists(), landed
    assert not list(root.glob("v*/world_bank_wdi.parquet"))


def test_get_pipeline_unknown_name_raises():
    with pytest.raises(ValueError, match="does not exist"):
        get_pipeline("narnia_stats")


def test_get_pipeline_wires_country_mapping(spark, country_mapping):
    p = get_pipeline("sipri_milex", country_mapping=country_mapping)
    assert p.transformer.country_mapping is country_mapping
    # identity-transformer sources take no mapping
    p2 = get_pipeline("imf_datamapper_api")
    assert isinstance(p2.transformer, imf_datamapper_api.Transformer)
