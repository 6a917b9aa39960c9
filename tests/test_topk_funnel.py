"""salted_topk equivalence + ordered-funnel semantics (q50/q51)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from prom_spark.operators.topk import salted_topk


@pytest.fixture(scope="module")
def grouped(spark):
    # 3 groups with skewed sizes (500 / 50 / 3), unique order values
    rows = (
        [("hot", i) for i in range(500)]
        + [("mid", 1000 + i) for i in range(50)]
        + [("cold", 2000 + i) for i in range(3)]
    )
    return spark.createDataFrame(rows, "g string, v long")


def test_salted_topk_equals_naive(spark, grouped):
    got = {(r.g, r.v) for r in salted_topk(grouped, ["g"], "v", k=10).collect()}
    want = {("hot", i) for i in range(10)}
    want |= {("mid", 1000 + i) for i in range(10)}
    want |= {("cold", 2000 + i) for i in range(3)}  # k > group size: all
    assert got == want


def test_salted_topk_descending_and_salt_invariance(spark, grouped):
    a = {(r.g, r.v) for r in salted_topk(grouped, ["g"], "v", k=5, descending=True).collect()}
    b = {(r.g, r.v) for r in salted_topk(grouped, ["g"], "v", k=5, descending=True, n_salts=1).collect()}
    assert a == b
    assert ("hot", 499) in a and ("hot", 0) not in a


def test_salted_topk_validation(spark, grouped):
    with pytest.raises(ValueError, match="k must be"):
        salted_topk(grouped, ["g"], "v", k=0)


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


def test_funnel_ordering_semantics(spark, tmp_path):
    import prom_spark.queries as Q

    rows = [
        # user 1: full funnel in order -> stage 3
        (1, 1, "view", _ts(0)), (2, 1, "click", _ts(1)), (3, 1, "purchase", _ts(2)),
        # user 2: click BEFORE the first view -> click doesn't count -> stage 1
        (4, 2, "click", _ts(0)), (5, 2, "view", _ts(1)),
        # user 3: view then click, purchase BEFORE click -> stage 2
        (6, 3, "view", _ts(0)), (7, 3, "purchase", _ts(1)), (8, 3, "click", _ts(2)),
        # user 4: never views -> absent from the funnel
        (9, 4, "purchase", _ts(0)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    d = str(tmp_path)
    df.write.parquet(f"{d}/events.parquet")
    out = {r.user_id: r for r in Q.q50_funnel(spark, d).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].stage == 3
    assert out[2].stage == 1 and out[2].click_us is None
    assert out[3].stage == 2 and out[3].purchase_us is None


def test_q51_sorted_frames_match_oracle(spark, tmp_path):
    """Query results are compared as pandas frames sorted over ALL
    columns, so q51 must project only sortable scalars (a list-valued
    ``postings`` column raises ``TypeError: unhashable type``), and the
    Spark and DuckDB frames must then be equal. 'common' appears in 30
    documents: its postings are truncated to 20 and ordered by numeric
    doc_id (9 before 10)."""
    import duckdb
    import pandas as pd

    import prom_spark.queries as Q

    docs = [(i, f"Common term{i % 3}  word{i % 7} common") for i in range(1, 31)]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")

    def by_all_columns(df):
        df = df[sorted(df.columns)]
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    got = by_all_columns(Q.q51_inverted_index(spark, str(tmp_path)).toPandas())
    want = by_all_columns(con.execute(Q._Q51_SQL).df())
    assert got.loc[got.term == "common", "postings"].item() == ",".join(
        str(i) for i in range(1, 21)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
