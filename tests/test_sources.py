"""Source connectors: HTTP JSON retry contract, payload flattening, the
endpoint-partitioned Python Data Source, and the ZIP-of-CSVs bulk path.

All offline — transports are injected or file:// URLs; fixtures mirror the
reference's API payload shape (api_client.py:94-105) and CSV dump members
(loaders/__init__.py:20-28).
"""

from __future__ import annotations

import datetime as dt
import json
import re
import zipfile

import pytest

from f1_data_pipeline_spark.sources import csv_zip, json_api

RACE_DOC = {
    "MRData": {
        "RaceTable": {
            "Races": [
                {
                    "season": "2024",
                    "round": "3",
                    "Results": [
                        {
                            "position": "1",
                            "positionText": "1",
                            "points": "25",
                            "grid": "2",
                            "laps": "57",
                            "status": "Finished",
                            "Driver": {"driverId": "max_verstappen"},
                            "Constructor": {"constructorId": "red_bull"},
                            "Time": {"millis": "5412000", "time": "1:30:12.000"},
                            "FastestLap": {
                                "rank": "1",
                                "lap": "44",
                                "Time": {"time": "1:23.456"},
                            },
                        },
                        {
                            "position": "2",
                            "positionText": "2",
                            "points": "18",
                            "grid": "1",
                            "laps": "57",
                            "status": "Finished",
                            "Driver": {"driverId": "norris"},
                            "Constructor": {"constructorId": "mclaren"},
                            "Time": {"millis": "5414500", "time": None},
                            "FastestLap": None,
                        },
                    ],
                }
            ]
        }
    }
}

EMPTY_DOC = {"MRData": {"RaceTable": {"Races": []}}}


# --- fetch_json retry contract (A1) -----------------------------------------------


def test_fetch_retries_5xx_then_succeeds():
    calls = []

    def transport(url):
        calls.append(url)
        return (503, "oops") if len(calls) < 3 else (200, json.dumps(RACE_DOC))

    doc = json_api.fetch_json("http://x/results", transport=transport, retry_delay=0)
    assert len(calls) == 3 and doc["MRData"]["RaceTable"]["Races"]


def test_fetch_404_is_empty_sentinel_not_error():
    assert json_api.fetch_json("http://x/none", transport=lambda u: (404, "")) is None


def test_fetch_other_4xx_no_retry():
    calls = []

    def transport(url):
        calls.append(url)
        return 403, "forbidden"

    with pytest.raises(RuntimeError, match="client error 403"):
        json_api.fetch_json("http://x/a", transport=transport, retry_delay=0)
    assert len(calls) == 1


def test_fetch_exhausts_retries():
    with pytest.raises(RuntimeError, match="exhausted 3 retries"):
        json_api.fetch_json(
            "http://x/b", transport=lambda u: (500, "down"), retry_delay=0
        )


def test_fetch_params_encoded():
    seen = {}

    def transport(url):
        seen["url"] = url
        return 200, "{}"

    json_api.fetch_json("http://x/r", params={"limit": "100"}, transport=transport)
    assert seen["url"] == "http://x/r?limit=100"


# --- payload flattening (G11 consume path) ----------------------------------------


def test_flatten_race_results_golden(spark):
    parsed = json_api.payloads_to_df(spark, [RACE_DOC])
    rows = {r["driver_reference"]: r for r in json_api.flatten_race_results(parsed).collect()}
    v = rows["max_verstappen"]
    assert v["season_year"] == 2024 and v["round_number"] == 3
    assert v["position"] == 1 and float(v["points"]) == 25.0
    assert v["race_time_milliseconds"] == 5412000
    assert v["fastest_lap_milliseconds"] == 83456  # "1:23.456" parsed
    n = rows["norris"]
    assert n["fastest_lap_milliseconds"] is None and n["race_time_milliseconds"] == 5414500


def test_flatten_empty_payload_zero_rows_same_schema(spark):
    parsed = json_api.payloads_to_df(spark, [EMPTY_DOC])
    out = json_api.flatten_race_results(parsed)
    assert out.count() == 0
    assert "driver_reference" in out.columns


# --- endpoint-partitioned Python Data Source --------------------------------------


def test_json_api_datasource_file_urls(spark, tmp_path):
    urls = []
    for i, doc in enumerate([RACE_DOC, EMPTY_DOC]):
        p = tmp_path / f"round{i}.json"
        p.write_text(json.dumps(doc))
        urls.append(p.as_uri())

    df = json_api.read_endpoints(spark, urls)
    # one input partition per endpoint → parallel fetch on executors
    assert df.rdd.getNumPartitions() == 2
    rows = {r["url"]: r for r in df.collect()}
    assert all(r["status"] == 200 for r in rows.values())

    # end-to-end: fetched payloads → flatten → typed rows
    from pyspark.sql import functions as F

    parsed = df.filter(F.col("status") == 200).select(
        F.from_json("payload", json_api.RACE_PAYLOAD_SCHEMA).alias("doc")
    )
    assert json_api.flatten_race_results(parsed).count() == 2


# --- ZIP-of-CSVs bulk dump (A2/A3) ------------------------------------------------


@pytest.fixture()
def f1_zip(tmp_path):
    zp = tmp_path / "dump.zip"
    drivers = (
        "id,forename,surname,reference,abbreviation,nationality,country_code,permanent_car_number,date_of_birth\n"
        "1,Max,Verstappen,max_verstappen,VER,Dutch,NLD,1,1997-09-30\n"
        "2,Lando,Norris,norris,NOR,British,GBR,4,1999-11-13\n"
        "3,Bad,Row,bad_row,BAD,Martian,XXX,99999,not-a-date\n"
    )
    seasons = "id,year\n1,2023\n2,2024\n"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("drivers.csv", drivers)
        zf.writestr("seasons.csv", seasons)
    return str(zp)


def test_zip_csv_tables_typed_and_sanitized(spark, tmp_path, f1_zip):
    tables = csv_zip.read_zip_csv(spark, f1_zip, str(tmp_path / "work"))
    assert set(tables) == {"driver", "season"}

    drivers = {r["id"]: r for r in tables["driver"].collect()}
    assert drivers[1]["date_of_birth"] == dt.date(1997, 9, 30)
    assert drivers[1]["permanent_car_number"] == 1
    # sanitizer semantics: smallint clipped, bad date → null (G7/G10)
    assert drivers[3]["permanent_car_number"] == 32767
    assert drivers[3]["date_of_birth"] is None

    years = {r["year"] for r in tables["season"].collect()}
    assert years == {2023, 2024}
    assert dict(tables["season"].dtypes)["year"] == "int"


def test_zip_multiple_parts_union(spark, tmp_path, f1_zip):
    zp2 = tmp_path / "dump2.zip"
    with zipfile.ZipFile(zp2, "w") as zf:
        zf.writestr("seasons.csv", "id,year\n3,2025\n")
    tables = csv_zip.read_zip_csv(
        spark, [f1_zip, str(zp2)], str(tmp_path / "work2")
    )
    assert tables["season"].count() == 3


# --- qualifying + sprint payload flattening ---------------------------------------

QUAL_DOC = {
    "MRData": {
        "RaceTable": {
            "Races": [
                {
                    "season": "2024",
                    "round": "3",
                    "QualifyingResults": [
                        {
                            "position": "1",
                            "Driver": {"driverId": "max_verstappen"},
                            "Constructor": {"constructorId": "red_bull"},
                            "Q1": "1:30.123",
                            "Q2": "1:29.500",
                            "Q3": "1:28.997",
                        },
                        {
                            # knocked out in Q1 → Q2/Q3 null through the parse
                            "position": "18",
                            "Driver": {"driverId": "slowpoke"},
                            "Constructor": {"constructorId": "backmarker"},
                            "Q1": "1:35.002",
                            "Q2": None,
                            "Q3": None,
                        },
                    ],
                }
            ]
        }
    }
}

SPRINT_DOC = {
    "MRData": {
        "RaceTable": {
            "Races": [
                {
                    "season": "2024",
                    "round": "3",
                    "SprintResults": [
                        {
                            "position": "1",
                            "positionText": "1",
                            "points": "8",
                            "grid": "1",
                            "laps": "19",
                            "status": "Finished",
                            "Driver": {"driverId": "max_verstappen"},
                            "Constructor": {"constructorId": "red_bull"},
                            "Time": {"millis": "1620000"},
                        }
                    ],
                }
            ]
        }
    }
}


def test_flatten_qualifying_q_times(spark):
    parsed = json_api.payloads_to_df(
        spark, [QUAL_DOC], json_api.QUALIFYING_PAYLOAD_SCHEMA
    )
    rows = {
        r["driver_reference"]: r
        for r in json_api.flatten_qualifying_results(parsed).collect()
    }
    v = rows["max_verstappen"]
    assert v["q3_time_milliseconds"] == 88997
    assert v["q1_time"] == "1:30.123" and v["q1_time_milliseconds"] == 90123
    s = rows["slowpoke"]
    assert s["q2_time"] is None and s["q2_time_milliseconds"] is None
    assert s["q1_time_milliseconds"] == 95002


def test_flatten_sprint(spark):
    parsed = json_api.payloads_to_df(
        spark, [SPRINT_DOC], json_api.SPRINT_PAYLOAD_SCHEMA
    )
    rows = json_api.flatten_sprint_results(parsed).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["sprint_time_milliseconds"] == 1620000
    assert float(r["points"]) == 8.0 and r["laps_completed"] == 19


def test_flatten_driver_standings_and_empty_shortcircuit(spark):
    doc = {
        "MRData": {
            "StandingsTable": {
                "StandingsLists": [
                    {
                        "season": "2024",
                        "round": "3",
                        "DriverStandings": [
                            {"position": "1", "points": "51", "wins": "2",
                             "Driver": {"driverId": "max_verstappen"}},
                            {"position": "2", "points": "45", "wins": "1",
                             "Driver": {"driverId": "norris"}},
                        ],
                    }
                ]
            }
        }
    }
    parsed = json_api.payloads_to_df(
        spark, [doc], json_api.DRIVER_STANDINGS_PAYLOAD_SCHEMA
    )
    rows = {r["driver_reference"]: r for r in json_api.flatten_driver_standings(parsed).collect()}
    assert rows["max_verstappen"]["points"] == 51.0
    assert rows["max_verstappen"]["win_count"] == 2

    # empty StandingsLists: the reference IndexErrors here (§7.6); we yield 0 rows
    empty = {"MRData": {"StandingsTable": {"StandingsLists": []}}}
    parsed = json_api.payloads_to_df(
        spark, [empty], json_api.DRIVER_STANDINGS_PAYLOAD_SCHEMA
    )
    assert json_api.flatten_driver_standings(parsed).count() == 0


def test_load_table_raises_on_unexpected_ts_encoding(spark, tmp_path):
    """A NANO_TS_COLUMNS column surfacing as anything but LongType (legacy
    nanos) or TimestampNTZType must fail loudly — a plain TimestampType
    (UTC-adjusted MICROS) passed through silently would read
    timezone-shifted vs DuckDB's naive read."""
    import datetime

    import pytest

    from f1_data_pipeline_spark.sources.tables import load_table

    sf = tmp_path / "sfX"
    sf.mkdir()
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12, 0), 7, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(sf / "events.parquet"))
    with pytest.raises(TypeError, match="unexpected surfaced type"):
        load_table(spark, str(sf), "events")


# --- single-file split rule (load_table) ------------------------------------------

# below sf0.001 `lineitem` (117 KB) and `documents` (64 KB), above `orders` (36 KB)
LOW_OPEN_COST = 60 * 1024


def _plan(df) -> str:
    """The physical plan AQE starts from; builds it without running the query."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def low_open_cost(spark):
    """Lower Spark's not-worth-splitting size so the split rule applies to
    sf0.001's one-row-group `lineitem`, and print scan schemas in full."""
    confs = {
        "spark.sql.files.openCostInBytes": str(LOW_OPEN_COST),
        "spark.sql.maxMetadataStringLength": "10000",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k in confs:
        spark.conf.unset(k)


def test_load_table_spreads_single_row_group_file(spark, sf_dir, low_open_cost):
    from f1_data_pipeline_spark.queries import QUERIES

    n = spark.sparkContext.defaultParallelism
    plan = _plan(QUERIES["pricing_summary"](spark, sf_dir))
    spreads = [ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert len(spreads) == 1, plan
    assert re.search(rf"Exchange hashpartitioning\(l_orderkey#\d+L, {n}\), "
                     "REPARTITION_BY_NUM", spreads[0]), spreads[0]
    # column pruning survives the exchange
    (read_schema,) = re.findall(r"lineitem\.parquet\].*ReadSchema: (struct<[^>]*>)", plan)
    assert "l_quantity" in read_schema and "l_comment" not in read_schema


def test_load_table_leaves_other_layouts_unsplit(spark, sf_dir, low_open_cost, tmp_path):
    import os
    import shutil

    import pyarrow.parquet as pq

    from f1_data_pipeline_spark.sources.tables import load_table

    # a file below the threshold
    assert os.path.getsize(f"{sf_dir}/orders.parquet") < LOW_OPEN_COST
    assert "Exchange" not in _plan(load_table(spark, sf_dir, "orders"))
    # a parquet directory
    as_dir = tmp_path / "dir"
    (as_dir / "lineitem.parquet").mkdir(parents=True)
    shutil.copy(f"{sf_dir}/lineitem.parquet", as_dir / "lineitem.parquet" / "part-0.parquet")
    assert "Exchange" not in _plan(load_table(spark, str(as_dir), "lineitem"))
    # a file that already splits into one row group per core
    n = spark.sparkContext.defaultParallelism
    t = pq.read_table(f"{sf_dir}/lineitem.parquet")
    groups = tmp_path / "groups"
    groups.mkdir()
    pq.write_table(t, groups / "lineitem.parquet", row_group_size=-(-t.num_rows // n))
    assert pq.read_metadata(groups / "lineitem.parquet").num_row_groups == n
    assert os.path.getsize(groups / "lineitem.parquet") >= LOW_OPEN_COST
    assert "Exchange" not in _plan(load_table(spark, str(groups), "lineitem"))


@pytest.mark.parametrize(
    "key", ["pricing_summary", "standings_recompute", "top_revenue_orders"]
)
def test_split_and_unsplit_scans_give_same_rows(spark, sf_dir, key):
    from f1_data_pipeline_spark.queries import QUERIES

    def rows():
        df = QUERIES[key](spark, sf_dir)
        return df, sorted((tuple(r) for r in df.collect()), key=repr)

    unsplit_df, unsplit = rows()
    assert "REPARTITION_BY_NUM" not in _plan(unsplit_df)
    spark.conf.set("spark.sql.files.openCostInBytes", str(LOW_OPEN_COST))
    try:
        split_df, split = rows()
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert "REPARTITION_BY_NUM" in _plan(split_df)
    assert unsplit and split == unsplit


def test_split_documents_keep_one_exchange_under_positional_ngrams(
    spark, sf_dir, low_open_cost
):
    """The shingler's own spread on the id collapses into the split's."""
    from f1_data_pipeline_spark.functions.text import positional_ngrams
    from f1_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert "REPARTITION_BY_NUM" in _plan(docs)
    plan = _plan(positional_ngrams(docs, "doc_id", "text", 3))
    assert plan.count("Exchange") == 1, plan


# --- schema inference once per file (load_table) ----------------------------------


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_load_table_infers_a_file_schema_once(spark, sf_dir):
    from f1_data_pipeline_spark.sources.tables import load_table

    first = load_table(spark, sf_dir, "events")
    before = _jobs(spark)
    again = load_table(spark, sf_dir, "events")
    assert _jobs(spark) == before  # no schema-inference job
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_load_table_schema_follows_a_rewritten_file(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_data_pipeline_spark.sources.tables import load_table

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    stat = os.stat(path)
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int64()),
                             "r_name": pa.array(["x"])}), path)
    # a rewrite within the clock's resolution still differs in size
    assert os.stat(path).st_size != stat.st_size
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in df.collect()] == [(1, "x")]
