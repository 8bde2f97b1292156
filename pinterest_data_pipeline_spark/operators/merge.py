"""Upsert (MERGE INTO) and SCD2 emulation on plain parquet tables.

The reference stores cleaned output in Delta tables (reference
README.md:300-304) where MERGE is native. Without Delta on the classpath,
the engine expresses the same table-maintenance semantics as pure
DataFrame algebra (the anti-join + union + window recipe):

- ``merge_upsert``: updates win by key; untouched target rows pass
  through. One shuffle on the key for the anti-join; at scale, partition
  the table by the merge key's bucket so the anti-join co-locates.
- ``scd2_apply``: slowly-changing-dimension type 2 — matched current
  rows are closed (valid_to = change ts), incoming versions open with
  valid_to = NULL. History rows pass through untouched.

Both are deterministic set operations — no ``dropDuplicates``/``first``
anywhere — so results are oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, updates: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """MERGE semantics: update-or-insert every ``updates`` row, keep
    unmatched target rows. Schemas must match."""
    if set(target.columns) != set(updates.columns):
        raise ValueError("target and updates schemas must match")
    survivors = target.join(updates.select(*key_cols), list(key_cols), "anti")
    return survivors.unionByName(updates)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    change_ts: Column,
) -> DataFrame:
    """Apply one batch of attribute changes to an SCD2 dimension.

    ``dim`` carries (key, attrs, valid_from, valid_to NULL=current);
    ``changes`` carries (key, attrs). Matched CURRENT rows close at
    ``change_ts``; each change inserts a new current row opening at
    ``change_ts``. History (closed) rows pass through untouched."""
    attr_cols = [c for c in dim.columns if c not in ("valid_from", "valid_to")]
    change_keys = changes.select(*key_cols)
    is_current = F.col("valid_to").isNull()

    history = dim.filter(~is_current)
    current = dim.filter(is_current)
    closed = (
        current.join(change_keys, list(key_cols), "semi")
        .withColumn("valid_to", change_ts)
    )
    untouched = current.join(change_keys, list(key_cols), "anti")
    opened = changes.select(*attr_cols).withColumn(
        "valid_from", change_ts
    ).withColumn("valid_to", F.lit(None).cast(dim.schema["valid_to"].dataType))
    return history.unionByName(closed).unionByName(untouched).unionByName(opened)
