"""One row-at-a-time Python stage.

Most per-image and per-feature operators have the same Python shape:
take one input row, yield zero or more output rows. ``per_row`` is the
one place that shape meets Arrow: one ``mapInPandas`` whose batches
become one positional ``pd.DataFrame`` each. pyspark assigns columns
of a frame with non-string labels by position, so the output column
names are spelled once, in the schema.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def per_row(df: DataFrame, cols, fn, schema: str) -> DataFrame:
    """mapInPandas over ``df.select(*cols)``: for each input row,
    ``fn(*values)`` yields output tuples in ``schema``'s column order.
    A batch that yields no rows emits nothing."""

    def run(batches):
        for pdf in batches:
            rows = [
                out
                for vals in pdf.itertuples(index=False, name=None)
                for out in fn(*vals)
            ]
            if rows:
                yield pd.DataFrame(rows)

    return df.select(*cols).mapInPandas(run, schema=schema)
