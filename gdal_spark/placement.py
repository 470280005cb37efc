"""Where a small side's work runs, and the log of adaptive choices:
one INFO event each on ``gdal_spark.decisions``, whose record carries
``decision``, ``inputs`` and ``chosen``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger("gdal_spark.decisions")


def decide(choice: str, chosen: str, **inputs) -> None:
    _log.info("%s -> %s %s", choice, chosen, inputs,
              extra={"decision": choice, "inputs": inputs, "chosen": chosen})


def on_driver(df: DataFrame) -> tuple[str, bool]:
    """(class name of ``df``'s optimized plan, whether it is a
    ``LocalRelation``: rows the driver holds and collects with no job)."""
    kind = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    return kind, kind == "LocalRelation"


def broadcast_fit(df: DataFrame, copies: int = 1):
    """(Catalyst's size estimate of ``copies`` copies of ``df``, the
    broadcast threshold, whether the size fits it).  Runs no job."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() * copies
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return size, limit, 0 <= size <= limit


def arrow_map(layer: DataFrame, gen, schema, choice: str) -> DataFrame:
    """``layer.mapInArrow(gen, schema)``, or for a layer held by the
    driver, ``gen`` run there over one Arrow batch of its rows (made on
    the driver: ``toArrow()`` would run a job), returned as a
    ``LocalRelation``.  Logs the placement as ``choice``."""
    kind, local = on_driver(layer)
    if not local:
        decide(choice, "executors", plan=kind, rows=None)
        return layer.mapInArrow(gen, schema)
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = layer.collect()
    decide(choice, "driver", plan=kind, rows=len(rows))
    table = (LocalDataToArrowConversion.convert(rows, layer.schema, False) if rows
             else to_arrow_schema(layer.schema).empty_table())
    batches = list(gen(iter(table.to_batches())))
    out = (pa.Table.from_batches(batches) if batches
           else to_arrow_schema(schema).empty_table())
    return layer.sparkSession.createDataFrame(out, schema)
