"""Session defaults of ``bobo_spark.session.get_spark``."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def test_analysis_error_keeps_its_message(spark):
    """DataFrame call-site capture is off (it imported IPython on the
    first DataFrame call and walked the stack on every later one); an
    analysis error still raises with its message."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column").collect()
