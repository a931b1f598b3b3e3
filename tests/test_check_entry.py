"""The local correctness-gate mimic (tools/check_entry.py) fails where
the gate does: on a DuckDB HUGEINT ``SUM()`` that pandas renders as
float64 against Spark's int64, and on a list-typed output column."""

import duckdb

from tools.check_entry import frame_problems


def test_mimic_fails_on_hugeint_sum(spark):
    sp = spark.range(5).selectExpr("sum(id) AS s").toPandas()
    con = duckdb.connect()
    q = "SELECT {} AS s FROM range(5) t(id)"
    assert frame_problems(sp, con.execute(q.format("sum(id)")).df()) == [
        "dtype s: int64 vs float64"
    ]
    assert frame_problems(
        sp, con.execute(q.format("CAST(sum(id) AS BIGINT)")).df()) == []


def test_mimic_fails_on_list_column(spark):
    sp = spark.range(3).selectExpr("id", "array(id, id + 1) AS l").toPandas()
    con = duckdb.connect()
    od = con.execute("SELECT id, [id, id + 1] AS l FROM range(3) t(id)").df()
    assert frame_problems(sp, od) == [
        "spark list/struct columns ['l']", "duckdb list/struct columns ['l']"
    ]
    sp = spark.range(3).selectExpr(
        "id", "array_join(array(id, id + 1), ',') AS l").toPandas()
    od = con.execute(
        "SELECT id, array_to_string([id, id + 1], ',') AS l FROM range(3) t(id)"
    ).df()
    assert frame_problems(sp, od) == []
