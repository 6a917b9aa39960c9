"""Gates for benchmark decontamination + near-dup cluster representatives."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prom_spark.operators.decontaminate import (
    contamination_scores,
    shingle_blocklist,
)


@pytest.fixture(scope="module")
def bench_df(spark):
    return spark.createDataFrame(
        [
            ("the quick brown fox jumps over the lazy dog tonight",),
            ("pack my box with five dozen liquor jugs right now ok",),
        ],
        "text string",
    )


def test_contamination_matches_duckdb_twin(spark, bench_df):
    import duckdb

    corpus = spark.createDataFrame(
        [
            # contains a full benchmark sentence verbatim -> high overlap
            (0, "intro words the quick brown fox jumps over the lazy dog tonight and more"),
            # no 4-gram overlap with the benchmark
            (1, "completely unrelated text with many distinct tokens in it"),
            # shorter than n tokens -> contamination 0.0 by definition
            (2, "too short"),
        ],
        "doc_id long, text string",
    )
    n = 4
    bl = shingle_blocklist(bench_df, "text", n=n)
    got = {
        r.doc_id: (r.n_shingles, r.n_hits, r.contamination)
        for r in contamination_scores(corpus, bl, "doc_id", "text", n=n).collect()
    }

    con = duckdb.connect()
    con.register("corpus", corpus.toPandas())
    con.register("bench", bench_df.toPandas())
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"""
            WITH ctoks AS (
              SELECT doc_id, list_filter(string_split(
                       regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                     t -> t != '') AS t
              FROM corpus),
            csh AS (
              SELECT DISTINCT doc_id,
                     md5(array_to_string(t[i:i+{n - 1}], ' ')) AS sh
              FROM (SELECT doc_id, t, unnest(range(1, len(t) - {n - 2})) AS i
                    FROM ctoks WHERE len(t) >= {n})),
            btoks AS (
              SELECT list_filter(string_split(
                       regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                     t -> t != '') AS t
              FROM bench),
            bsh AS (
              SELECT DISTINCT md5(array_to_string(t[i:i+{n - 1}], ' ')) AS sh
              FROM (SELECT t, unnest(range(1, len(t) - {n - 2})) AS i
                    FROM btoks WHERE len(t) >= {n})),
            agg AS (
              SELECT csh.doc_id, count(*) AS n_sh,
                     sum(CASE WHEN bsh.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
              FROM csh LEFT JOIN bsh USING (sh) GROUP BY 1)
            SELECT c.doc_id,
                   coalesce(a.n_sh, 0)::BIGINT,
                   coalesce(a.n_hit, 0)::BIGINT,
                   CASE WHEN coalesce(a.n_sh, 0) > 0
                        THEN round(a.n_hit / a.n_sh, 6) ELSE 0.0 END
            FROM corpus c LEFT JOIN agg a USING (doc_id)
            """
        ).fetchall()
    }
    assert got == want
    assert got[0][2] > 0.5  # verbatim inclusion flagged
    assert got[1][1] == 0  # clean doc: zero hits
    assert got[2] == (0, 0, 0.0)  # sub-n doc well-defined


def test_blocklist_probe_is_broadcast(spark, bench_df):
    corpus = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    bl = shingle_blocklist(bench_df, "text", n=4)
    plan = (
        contamination_scores(corpus, bl, "doc_id", "text", n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_representatives_transitive_and_deterministic(spark):
    from prom_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame(
        [(i, f"doc {i}", q) for i, q in [(1, 0.9), (2, 0.95), (3, 0.1), (4, 0.5), (9, 0.2)]],
        "doc_id long, text string, quality double",
    )
    # chain 1~2, 2~3: transitive closure must cluster {1,2,3} though
    # (1,3) was never a candidate pair; 4 and 9 are singletons
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    out = dedup_representatives(docs, pairs, "doc_id", order_col="quality")
    rows = {r.doc_id: (r.cluster, r.keep) for r in out.collect()}
    c123 = {rows[1][0], rows[2][0], rows[3][0]}
    assert len(c123) == 1  # one cluster
    kept = [d for d in (1, 2, 3) if rows[d][1]]
    assert kept == [2]  # highest quality wins
    assert rows[4][1] and rows[9][1]  # singletons kept
    assert rows[4][0] != rows[9][0]
    # deterministic default: min id when no order column
    out2 = dedup_representatives(docs, pairs, "doc_id")
    rows2 = {r.doc_id: r.keep for r in out2.collect()}
    assert [d for d in (1, 2, 3) if rows2[d]] == [1]


def test_dedup_representatives_on_simhash_pairs(spark):
    """End-to-end: corrupted copies collapse onto their originals."""
    from prom_spark.operators.dedup import dedup_representatives, simhash_near_dupes

    base = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta iota kappa doc{i}")
        for i in range(10)
    ]
    copies = [(100 + i, t + " x") for i, t in base]  # near-dup of each
    docs = spark.createDataFrame(base + copies, "doc_id long, text string")
    pairs = simhash_near_dupes(docs, "doc_id", "text", bits=64, max_hamming=3)
    out = dedup_representatives(docs, pairs, "doc_id")
    kept = {r.doc_id for r in out.collect() if r.keep}
    # every original kept, every near-copy that paired with its original dropped
    paired = {r.id2 for r in pairs.collect()} | {r.id1 for r in pairs.collect()}
    for i, _ in base:
        assert i in kept
    for i in (100 + j for j in range(10)):
        if i in paired:
            assert i not in kept


def test_dedup_representatives_ids_beyond_2_pow_53(spark):
    """bigint ids past double precision (2^53 + 1 rounds to 2^53 as a
    double) must keep their own clusters: the component join may not
    compare ids through a lossy coercion."""
    from prom_spark.operators.dedup import dedup_representatives

    base = 2**53
    ids = [base + k for k in range(4)]
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in ids], "doc_id long, text string"
    )
    # chain base ~ base+1 ~ base+2; base+3 is a singleton
    pairs = spark.createDataFrame(
        [(ids[0], ids[1]), (ids[1], ids[2])], "id1 long, id2 long"
    )
    rows = {
        r.doc_id: (r.cluster, r.keep)
        for r in dedup_representatives(docs, pairs, "doc_id").collect()
    }
    assert set(rows) == set(ids)
    assert {rows[i][0] for i in ids[:3]} == {ids[0]}
    assert rows[ids[3]][0] == ids[3]
    assert [i for i in ids if rows[i][1]] == [ids[0], ids[3]]
