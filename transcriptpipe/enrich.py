"""Enrich stage — broadcast-dictionary lookups.

The aushape analog is auparse's interpretation dictionaries (syscall numbers →
names, uid → username), invoked at /root/reference/lib/field.c:112-114 and
lib/execve_coll.c:242,360. Ours are explicit small dimension tables joined
with an explicit ``broadcast()`` hint, so at 10^12 rows the lookup is a
map-side hash probe — no shuffle of the fact table, ever.

``enrich`` is the pipeline's first layer. It adds no error column: a
non-null ``tool`` code with no dictionary hit leaves ``tool_name`` null, and
each render engine (the Arrow kernel, relational.py) turns that into an
UNKNOWN_TOOL row error routed to the error sink (the reference would fail
interpretation; we route, never throw).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas, synth


# The dictionaries are built from pandas, but broadcasting each one still
# runs one 4-task Spark job per action (noop write over parquet input: a
# scan alone is 1 job, with the role join 2, full ``enrich`` 3): 2 of a
# committed run's build jobs, and 2 per stream micro-batch.
def role_dict_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(pd.DataFrame(synth.role_dict_rows()),
                                 schema=schemas.ROLE_DICT)


def tool_dict_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(pd.DataFrame(synth.tool_dict_rows()),
                                 schema=schemas.TOOL_DICT)


def enrich_roles(df: DataFrame, roles: DataFrame) -> DataFrame:
    """Map raw role codes (R0..R4) to canonical names; names pass through."""
    return (
        df.join(F.broadcast(roles), df["role"] == roles["role_code"], "left")
        .withColumn("role_name", F.coalesce("role_name", "role"))
        .drop("role_code")
    )


def enrich(df: DataFrame, spark: SparkSession) -> DataFrame:
    """The enrich layer: null text becomes the empty line, then role names
    and tool names come from two broadcast dictionary joins. Narrow — no
    shuffle of the fact table.

    A null text is the empty line because the reference's model is a log
    line stream where 'missing' can only mean empty; the Python oracle
    coerces ``row["text"] or ""`` the same way (oracle.parse_turn). The RAW
    sink reads the input before this layer (byte-faithful passthrough)."""
    df = enrich_roles(df.withColumn("text", F.coalesce("text", F.lit(""))),
                      role_dict_df(spark))
    return df.join(
        F.broadcast(tool_dict_df(spark)), df["tool"] == F.col("tool_code"), "left"
    ).drop("tool_code", "tool_kind")
