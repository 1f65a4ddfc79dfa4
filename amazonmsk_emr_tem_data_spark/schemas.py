"""The single shared schema module.

The reference hand-declares its 26-column telemetry schema FOUR times
(``/root/reference/pyspark_scripts/temDataRead.py:34-43``,
``04_temincrementaltem.py:36-45``, ``temReadFromTopic.py:68-75``,
``03_temStreamEveryMin.py:76-83``) with two deliberate quirks we fix per
SURVEY.md §7.4:

- ``TbottomTestTankHpCir`` is declared StringType over float data → fixed
  to DoubleType here; ``tem_schema(compat=True)`` reproduces the quirk so
  the codec tests can prove wire-level parity with the reference.
- ``dateTime`` is kept a string in the reference → parsed to
  TimestampType here (prerequisite for watermarks / event-time windows).
- Float32 measure columns → DoubleType (the reference silently truncated
  the CSV's doubles to float32).

Also defines the driver-fixture schemas (``/root/repo/FIXTURES.md`` §B)
so streaming file sources can read them without inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# A1: tem_readings — wide sensor time-series (reference-native)
# ---------------------------------------------------------------------------

#: The ten sensor-array channels averaged by `Tem(Avg)`
#: (built at /root/reference/pyspark_scripts/temReadFromTopic.py:78-79).
T_SENSOR_COLS = [f"T{i}" for i in range(10)]

#: Non-T measure columns, in reference declaration order
#: (/root/reference/pyspark_scripts/temDataRead.py:34-43).
_TEM_MEASURES_PRE_T = [
    "Tamb",
    "TtopTestTankHPCir",
    "TbottomTestTankHpCir",
    "TtopSourceTank",
    "TloadTankMix",
    "TTopTestTankLoadCir",
    "TloadMix",
    "TbottomSourceTank",
    "TbottomTestTankLoadCir",
]
_TEM_MEASURES_POST_T = ["flowHP", "flowLoad", "Load_kW", "Heat_Capacity_kW"]

TEM_MEASURE_COLS = _TEM_MEASURES_PRE_T + T_SENSOR_COLS + _TEM_MEASURES_POST_T

#: The derived horizontal-mean column name. The parens are part of the
#: reference semantics (temReadFromTopic.py:84) and need backtick quoting
#: in SQL: `Tem(Avg)`.
TEM_AVG_COL = "Tem(Avg)"


def tem_schema(include_index: bool = False, compat: bool = False) -> T.StructType:
    """The 25/26-column telemetry schema.

    include_index: add the pandas artifact column ``Unnamed: 0`` that the
        producer-side schemas carry (temDataRead.py:34) and immediately
        drop at ingest (temDataRead.py:52).
    compat: reproduce the reference's wire types exactly — float32
        measures, string ``dateTime``, and the string-typed
        ``TbottomTestTankHpCir`` quirk — for byte-level envelope parity.
    """
    num = T.FloatType() if compat else T.DoubleType()
    fields: list[T.StructField] = []
    if include_index:
        fields.append(T.StructField("Unnamed: 0", T.IntegerType(), True))
    fields.append(T.StructField("id", T.IntegerType() if compat else T.LongType(), True))
    fields.append(
        T.StructField("dateTime", T.StringType() if compat else T.TimestampType(), True)
    )
    for name in TEM_MEASURE_COLS:
        if compat and name == "TbottomTestTankHpCir":
            fields.append(T.StructField(name, T.StringType(), True))
        else:
            fields.append(T.StructField(name, num, True))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# B: driver fixture tables (/root/repo/FIXTURES.md §B) — declared so
# streaming file sources can read them schema-first (readStream requires
# an explicit schema).
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

#: All driver tables, for bulk loading.
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
