"""Scalar cleaning/conforming expressions (SURVEY §2.3 F1-F13; the F6
sentinel end date and the F12 ROUND are inline at their use sites).

Re-expresses the reference's PL/pgSQL string surgery as pure
`pyspark.sql.functions` column expressions — JVM-side, inside
whole-stage codegen, zero Python UDFs (reference uses none either,
/root/reference/Database/BL_CL/bl_cl.sql:101-110 et al.).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def clean_id(c: Column | str) -> Column:
    """Strip a ``#…`` suffix from an id column.

    Reference: POSITION('#' IN id) + SUBSTRING(id FROM 1 FOR pos-1)
    (bl_cl.sql:101-110, 143-152, 1233-1243). ``split_part`` returns
    the whole string when the delimiter is absent — exactly the
    reference's CASE fallback.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.split_part(c, F.lit("#"), F.lit(1))


def clean_name(c: Column | str) -> Column:
    """Strip a ``' -…'`` suffix from a name column (bl_cl.sql:189-193)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split_part(c, F.lit(" -"), F.lit(1))


def first_name(c: Column | str) -> Column:
    """SPLIT_PART(name,' ',1) (bl_cl.sql:1069)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split_part(c, F.lit(" "), F.lit(1))


def last_name(c: Column | str) -> Column:
    """SPLIT_PART(name,' ',2) (bl_cl.sql:1070)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split_part(c, F.lit(" "), F.lit(2))


def full_name(first: Column | str, last: Column | str) -> Column:
    """first || ' ' || last (bl_dm.sql:289)."""
    return F.concat_ws(" ", first, last)


def parse_date_ddmmyyyy(c: Column | str) -> Column:
    """to_date(col,'DD-MM-YYYY') (bl_cl.sql:633,644,1173-1180)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.to_date(c, "dd-MM-yyyy")


def audit_timestamp() -> Column:
    """to_char(NOW(),'YYYY-MM-DD HH24:MI:SS') (bl_cl.sql:55)."""
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")


def with_audit_cols(df: DataFrame, load_id: int) -> DataFrame:
    """Staged-append audit columns (S2, bl_cl.sql:55,63): stringly
    insert_date + load_id, matching the all-VARCHAR staging layer."""
    return df.withColumn("insert_date", audit_timestamp()).withColumn(
        "load_id", F.lit(str(load_id))
    )

