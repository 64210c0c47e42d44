"""Recursive-CTE surface: what Spark 4.1 executes and where the
boundary sits.

`customer_chain_depths_sql` (oracle-verified in the registry) covers
the working path: UNION ALL recursion on an acyclic walk. This module
pins the BOUNDARY: distinct-UNION recursion — the form DuckDB uses for
transitive closure over cyclic (undirected) graphs, and the form our
connected-components ORACLES are written in — is not yet supported by
Spark, which is exactly why the iterative DataFrame operator
(`ext/dedup.py:connected_components`) remains the engine's graph-closure
path rather than a recursive-SQL one."""

from __future__ import annotations

import pytest
from pyspark.sql.utils import AnalysisException


def test_union_all_recursion_executes(spark):
    out = spark.sql(
        """
        WITH RECURSIVE r(n) AS (
          SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 10)
        SELECT count(*) AS c, sum(n) AS s FROM r
        """
    ).collect()[0]
    assert (out["c"], out["s"]) == (10, 55)


def test_distinct_union_recursion_unsupported(spark):
    spark.sql("SELECT 1 AS a, 2 AS b").createOrReplaceTempView("__rc_edges")
    with pytest.raises(AnalysisException, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            """
            WITH RECURSIVE reach(a, b) AS (
              SELECT a, b FROM __rc_edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN __rc_edges e ON r.b = e.a)
            SELECT * FROM reach
            """
        ).collect()
