"""S1 CSV audit semantics (P2/P3), S2/K1 TSV round-trip, O2 key extract."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_sf_crime_spark.sources.csv_crimes import read_crimes_csv
from map_reduce_sf_crime_spark.sources.tsv import read_report, write_report

HEADER = (
    "IncidntNum,Category,Descript,DayOfWeek,Date,Time,PdDistrict,"
    "Resolution,Address,X,Y,Location"
)

ROWS = [
    # clean rows; note quoted category with comma (OpenCSV-parity case)
    '130000001,LARCENY/THEFT,stolen bike,Monday,01/07/2013 10:30,10:30,MISSION,NONE,100 Main St,-122.4,37.75,"(37.75, -122.4)"',
    '130000002,"ARSON, ATTEMPTED",fire,Tuesday,01/08/2013 11:00,11:00,SOUTHERN,"ARREST, BOOKED",200 Oak St,-122.41,37.76,"(37.76, -122.41)"',
    "130000003,ASSAULT,punch,Wednesday,02/13/2013 12:00,12:00,TENDERLOIN,NONE,300 Pine St,-122.42,37.77,loc",
    # structurally short row (<7 cols → dropped+counted, SanFranciscoCrime.java:81)
    "130000004,VANDALISM,tag",
    # unparseable date (dropped+counted, SanFranciscoCrimePrepOlap.java:124-128)
    "130000005,FRAUD,scam,Thursday,13/45/2013 99:99,99:99,RICHMOND,NONE,400 Elm St,-122.43,37.78,loc",
    # ABSENT date, structurally fine — also dropped+counted as bad date
    "130000006,BURGLARY,break-in,Friday,,13:00,PARK,NONE,500 Ash St,-122.44,37.79,loc",
]


def test_crimes_csv_audit(spark, tmp_path: pathlib.Path):
    p = tmp_path / "crimes.csv"
    p.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    scan = read_crimes_csv(spark, str(p))
    clean = scan.clean.collect()
    assert len(clean) == 3
    assert scan.corrupt_count == 1
    # covers BOTH unparseable and absent dates — the audit partition
    # is exact: clean + corrupt + bad_date == total data rows
    assert scan.bad_date_count == 2
    assert len(clean) + scan.corrupt_count + scan.bad_date_count == len(ROWS)
    cats = sorted(r.Category for r in clean)
    assert cats == ["ARSON, ATTEMPTED", "ASSAULT", "LARCENY/THEFT"]
    d = {r.IncidntNum: r.incident_date.isoformat() for r in clean}
    # time-of-day truncated (MapReduceJobBase.java:73-80)
    assert d["130000001"] == "2013-01-07"


def test_tsv_report_roundtrip(spark, tmp_path: pathlib.Path):
    df = spark.createDataFrame(
        [("MISSION", 3, 'quoted,"val"'), ("SOUTHERN", 5, "plain")],
        "key string, n int, s string",
    )
    out = str(tmp_path / "report")
    write_report(df, "key", ["n", "s"], out)
    back = read_report(
        spark,
        out,
        T.StructType(
            [T.StructField("n", T.IntegerType()), T.StructField("s", T.StringType())]
        ),
    )
    rows = {r.key: (r.n, r.s) for r in back.collect()}
    assert rows == {"MISSION": (3, 'quoted,"val"'), "SOUTHERN": (5, "plain")}
