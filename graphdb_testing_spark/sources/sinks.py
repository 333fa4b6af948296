"""Sinks: value histograms and the named result store.

Reference: histogram sink (``src/util/histogram.c:6-145`` — counts
per label/value written to ``name.batch.csv``) and the workflow's
named-result store (``include/core/stinger-workflow.h:30-39`` +
``src/alg/result_writer.c:22-60`` — algorithms publish named per-
vertex arrays, dumped each batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def histogram(df: DataFrame, col: str) -> DataFrame:
    """Value histogram: ``(value, count)``."""
    return df.groupBy(F.col(col).alias("value")).agg(F.count("*").alias("count"))


class NamedResultStore:
    """Algorithms publish named per-vertex DataFrames; consumers read
    them by name (temp views), and :meth:`dump` writes every result
    per batch — the ``result_writer`` analog."""

    def __init__(self) -> None:
        self._results: dict[str, DataFrame] = {}

    def publish(self, name: str, df: DataFrame) -> None:
        self._results[name] = df
        df.createOrReplaceTempView(f"result_{name}")

    def get(self, name: str) -> DataFrame:
        return self._results[name]

    def names(self) -> list[str]:
        return sorted(self._results)

    def dump(self, directory: str, batch: int) -> None:
        for name, df in self._results.items():
            df.write.mode("overwrite").parquet(f"{directory}/{name}.{batch}.parquet")
