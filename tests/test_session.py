"""Session defaults that change how PySpark builds a query."""

from __future__ import annotations


def test_call_site_capture_is_off(spark):
    """Every ``functions``/``Column`` call would otherwise walk the Python
    stack and make about seven py4j round trips to record its call site."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a") + 1  # the first wrapped call reads the conf, once per process
    assert not is_debugging_enabled()
