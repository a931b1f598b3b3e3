"""``synth.local_dim_df``: an Arrow-built LocalRelation returns every
cell it is given, whatever the characters or bounds."""

from pg_iui_ner_api_spark.synth import local_dim_df


def test_local_dim_df_round_trips_cells(spark):
    rows = [
        ("it's", -(2 ** 63)),
        ("AC\\DC", 2 ** 63 - 1),
        ("x\\ny", 0),
        ("x\ny", None),
        ("Łódź", 1),
        (None, 2),
        ("\\'", -1),
    ]
    df = local_dim_df(spark, rows, "s string, n bigint")
    assert df.dtypes == [("s", "string"), ("n", "bigint")]
    assert [tuple(r) for r in df.collect()] == rows
