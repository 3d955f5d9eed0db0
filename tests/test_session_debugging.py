"""get_session turns PySpark's DataFrame debugging off, so no ``functions.*``
call or Column operator pays for a Python call-site capture in the JVM
(session.py gives the trade-off). Analysis errors keep their exception class
and error condition; only the Python call-site context is gone.

The debugging-on path stays covered by tools/driver_sim.py: its vanilla
session (PySpark's defaults, built without get_session) is the first session
of its process and builds and runs every registered query."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def test_engine_session_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_unresolved_column_keeps_its_error_condition(spark):
    df = spark.range(3)
    with pytest.raises(AnalysisException) as err:
        df.select(F.col("no_such_column") + 1)
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "no_such_column" in str(err.value)
