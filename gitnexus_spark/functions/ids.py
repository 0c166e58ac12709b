"""Deterministic content-hash ids.

The reference generates ``type + '_' + crypto.randomUUID()`` per node
(src/lib/utils.ts:1-5) — non-reproducible across runs, which breaks
resumability and output-diffing. We instead derive every node/edge id as
``md5(label || '|' || natural_key)``: stable across runs, partitions and
cluster sizes, and reproducible in the DuckDB oracle (duckdb md5() ==
Spark md5() on identical input strings).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "|"


def node_id(label: Column | str, *key_cols: Column) -> Column:
    label_col = F.lit(label) if isinstance(label, str) else label
    return F.md5(F.concat_ws(SEP, label_col, *key_cols))


def edge_id(edge_type: Column | str, src: Column, dst: Column) -> Column:
    t = F.lit(edge_type) if isinstance(edge_type, str) else edge_type
    return F.md5(F.concat_ws(SEP, t, src, dst))

