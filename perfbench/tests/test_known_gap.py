"""The library defect that decides how kt_grow builds its table.

``merge_table`` with a Spark source whose key column is narrower than
the table's (``int`` against ``bigint``) does not match the existing
keys and inserts duplicates. kt_grow therefore creates its table from a
Spark frame, so that its MERGE sources have the table's key types. This
test keeps the defect visible; when it is fixed, it fails (strict
xfail) and kt_grow may create its table from pandas again.
"""

import numpy as np
import pytest

import datagen
import harness


@pytest.mark.xfail(strict=True, reason="merge_table does not widen narrower source keys")
def test_merge_with_narrower_key_type_updates_in_place(tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(harness.CHECKOUT))
    harness.import_library()
    from pandabase_spark import KeyedCatalog
    from pandabase_spark.session import get_spark
    from pandabase_spark.workload import LI_KEYS

    spark = get_spark(
        "perfbench-known-gap", master="local[1]",
        **{"spark.driver.memory": "512m", "spark.sql.warehouse.dir": str(tmp_path / "wh"),
           "spark.local.dir": str(tmp_path / "local"), "spark.ui.showConsoleProgress": "false"},
    )
    try:
        cat = KeyedCatalog(spark, str(tmp_path / "wh"))
        rows = datagen.lineitem(np.random.default_rng(0), 20, 1, 0.001)
        cat.to_table(rows, "t", keys=LI_KEYS)  # from pandas: l_linenumber becomes bigint
        src = spark.createDataFrame(rows.iloc[:10])  # l_linenumber stays int
        res = cat.merge_table(src, "t")
        assert res == {"updated": 10, "deleted": 0, "inserted": 0}
        assert cat.read_table("t").count() == len(rows)
    finally:
        harness.stop_session(spark)
