"""local_relation: the LocalTableScan twin of ``createDataFrame`` keeps
every row as given and refuses malformed rows as the classic path does."""

from __future__ import annotations

import pytest

from stock_ops_spark.localrel import local_relation

SCHEMA = "k string, n bigint, x double"


def test_local_relation_rows_match_create_dataframe(spark):
    rows = [("a", 1, 1.5), ("b", None, None)]
    got = local_relation(spark, rows, SCHEMA)
    assert got.collect() == spark.createDataFrame(rows, SCHEMA).collect()
    # by-name rows: missing keys NULL-fill
    named = local_relation(spark, [{"k": "c", "x": 2.5}], SCHEMA).collect()
    assert [tuple(r) for r in named] == [("c", None, 2.5)]


@pytest.mark.parametrize(
    "bad", [("short", 1), ("long", 1, 1.5, "extra")], ids=["short", "long"]
)
def test_local_relation_rejects_wrong_arity_rows(spark, bad):
    # zip over the field names would truncate the long row and NULL-fill
    # the short one; the row must raise instead
    with pytest.raises(Exception, match="LENGTH_MISMATCH"):
        local_relation(spark, [("ok", 2, 2.0), bad], SCHEMA)
