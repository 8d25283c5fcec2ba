from __future__ import annotations

import pytest

from rta_registrations_pyspark_glue_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def write_bronze(spark):
    """``write_bronze(path, *rows)`` writes a header CSV of all-string
    bronze rows, one per ``(reg, fromdate, slno[, model])`` tuple; the
    other columns are fixed."""
    from rta_registrations_pyspark_glue_spark.jobs import BRONZE_COLUMNS

    fixed = dict(
        todate="01/01/2030", OfficeCd="RTA HYDERABAD", makerName="MARUTI",
        modelDesc="SWIFT VDI 2019", fuel="PETROL", makeYear="2019",
        colour="WHITE", vehicleClass="MOTOR CAR", seatCapacity="5",
    )

    def write(path, *rows):
        data = []
        for reg, fromdate, slno, *model in rows:
            row = dict(fixed, tempRegistrationNumber=reg, fromdate=fromdate, slno=slno)
            if model:
                row["modelDesc"] = model[0]
            data.append(tuple(row[c] for c in BRONZE_COLUMNS))
        schema = ", ".join(f"{c} string" for c in BRONZE_COLUMNS)
        frame = spark.createDataFrame(data, schema)
        frame.coalesce(1).write.mode("overwrite").option("header", True).csv(str(path))

    return write
