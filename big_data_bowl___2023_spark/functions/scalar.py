"""Scalar expression surface (SURVEY.md §2.8 F1–F9).

Thin, typed wrappers over built-in ``pyspark.sql.functions`` — every
one stays JVM-side inside whole-stage codegen; nothing here is a UDF.
The reference's scalar calls map 1:1 (abs MBE:52, pmax MBE:77, round
MO:20, ifelse MBE:45, paste/str_* WIP.R:25-33).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pmax(*cols: Column) -> Column:
    """F4: n-ary elementwise max — R ``pmax`` (MBE:77)."""
    return F.greatest(*cols)


def pmin(*cols: Column) -> Column:
    return F.least(*cols)


def ifelse(cond: Column, yes, no) -> Column:
    """F7: vectorized conditional — R ``ifelse`` (MBE:45, 81-82, 91).
    Nest by passing another ``ifelse`` as ``no``."""
    return F.when(cond, yes).otherwise(no)
