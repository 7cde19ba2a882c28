"""Round-15 optimization internals: miner dedup keying, packed-kernel
guards."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F


class TestDedupItems:
    """basket.dedup_items: the ok-keyed repartition + dropDuplicates is
    set-identical to the old (ok, pk)-keyed dedup."""

    def test_distinct_set(self, spark):
        from columnar_estimator_sample_spark.operators.basket import (
            dedup_items,
        )
        li = spark.createDataFrame(
            [(1, 10), (1, 10), (1, 11), (2, 10), (2, 10), (3, 12)],
            "ok long, pk long")
        got = sorted((r.ok, r.pk) for r in dedup_items(li).collect())
        assert got == [(1, 10), (1, 11), (2, 10), (3, 12)]

    def test_basket_groupby_reuses_partitioning(self, spark):
        """The whole point of keying the dedup by ok: collect_list by ok
        must NOT add an exchange above the dedup aggregate."""
        from columnar_estimator_sample_spark.operators.basket import (
            dedup_items,
        )
        li = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 10)], "ok long, pk long")
        plan = (dedup_items(li).groupBy("ok")
                .agg(F.sort_array(F.collect_list("pk")))
                ._jdf.queryExecution().executedPlan().toString())
        # exactly one exchange: the explicit repartition(ok); the dedup
        # aggregate and the basket aggregate both ride it
        assert plan.count("Exchange ") == 1, plan


class TestListMatrixEmptyBatch:
    def test_raises_loudly(self):
        from columnar_estimator_sample_spark.operators.similarity import (
            _list_matrix,
        )
        col = pa.array([], type=pa.list_(pa.int64()))
        chunk = col.combine_chunks() if hasattr(col, "combine_chunks") \
            else col
        with pytest.raises(ValueError, match="empty batch"):
            _list_matrix(chunk, np)
