"""Type-hinted pandas UDFs.

``pandas_udf`` reads a scalar UDF's kind from its type hints, so the
hints must resolve to real objects. The package's other modules use
``from __future__ import annotations``, which turns hints into strings
that do not resolve where pandas is imported lazily; this module does
not.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


def double_series_udf(fn):
    """``fn(pandas.Series) -> pandas.Series`` as a scalar pandas UDF
    returning double."""

    @pandas_udf("double")
    def run(s: pd.Series) -> pd.Series:
        return fn(s).astype(float)

    return run
