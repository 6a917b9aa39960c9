"""Driver-contract query registry: Spark queries + DuckDB oracle twins.

Every entry implements one operator family from SURVEY.md §2 (or a
training-data-pipeline extra) over the driver's testdata tables, with an
ANSI-SQL oracle that DuckDB executes on the same parquet files. Rules
that keep the value-hash comparison exact:

  - money/quantity aggregates go through DECIMAL casts (float sums are
    order-dependent; decimal sums are exact and engine-identical)
  - similarity scores are ROUND(x, 6); their inputs are integer-derived
    or sequentially-folded doubles, identical in both engines
  - hashes/fingerprints/minhashes use md5 (identical in both engines)
  - timestamps are reduced to epoch seconds (session TZ pinned to UTC)

Column names are aliased identically in both formulations (the driver
sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prom_spark.functions.similarity import cosine_sim, norm_levenshtein
from prom_spark.functions.text import (
    BPE_ISH_PATTERN,
    ENGLISH_STOPWORDS,
    bpe_ish_token_count,
    doc_fingerprint,
    english_stopword_ratio,
    quality_score,
    token_count,
)

# fixed mini entity dictionary over the documents vocabulary (q18/q19)
LINK_TERMS = ["spark", "table", "row", "hash", "join", "filter",
              "window", "batch", "stream", "query"]
_TERMS_SQL = "(" + ", ".join(f"('{t}')" for t in LINK_TERMS) + ")"
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# relational core
# --------------------------------------------------------------------------

def q01_lineitem_agg(spark, sf_dir):
    """A1/A5-family grouped aggregation (pushdown + partial agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2)
        .alias("sum_price"),
        F.round(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,4)"))
                * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
            ).cast("double"),
            2,
        ).alias("sum_disc_price"),
        F.count("*").alias("cnt"),
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity::DECIMAL(18,2))::DOUBLE, 2) AS sum_qty,
       round(sum(l_extendedprice::DECIMAL(18,4))::DOUBLE, 2) AS sum_price,
       round(sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE, 2) AS sum_disc_price,
       count(*) AS cnt
FROM lineitem GROUP BY 1, 2
"""


def q02_region_revenue(spark, sf_dir):
    """J4-style dimension joins (broadcast chain) + decimal rollup."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, n, r = (_t(spark, sf_dir, x) for x in ("customer", "nation", "region"))
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_Q02_SQL = """
SELECT r_name,
       round(sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DOUBLE, 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1
"""


def q03_window_topk(spark, sf_dir):
    """W1/O1: rank window, top-3 orders per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


_Q03_SQL = """
SELECT o_custkey, o_orderkey, rk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
"""


def q04_orders_without_lineitems(spark, sf_dir):
    """U3 anti-join (orders with no line items — non-empty at every SF).
    Driver-gated through the merged q04_set_ops entry."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_custkey"
    )


_Q04_SQL = """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
"""


def q05_event_customers(spark, sf_dir):
    """U2 semi-join: event users that are known customers.
    Driver-gated through the merged q04_set_ops entry."""
    e, c = _t(spark, sf_dir, "events"), _t(spark, sf_dir, "customer")
    return (
        e.join(c, e.user_id == c.c_custkey, "left_semi")
        .select("user_id")
        .distinct()
    )


_Q05_SQL = """
SELECT DISTINCT user_id FROM events WHERE user_id IN (SELECT c_custkey FROM customer)
"""


def q04_set_ops(spark, sf_dir):
    """U2/U3 set operations under ONE driver gate: the q04 anti-join
    (orders with no line items) and the q05 semi-join (event users that
    are known customers), tagged by section and unioned on a common
    (section, k1, k2) schema. Consolidated so the driver's 50-entry
    correctness window reaches every implemented operator — both plans
    are unchanged, only the gate packaging merged (round-5 item #2)."""
    anti = q04_orders_without_lineitems(spark, sf_dir).select(
        F.lit("anti").alias("section"),
        F.col("o_orderkey").cast("long").alias("k1"),
        F.col("o_custkey").cast("long").alias("k2"),
    )
    semi = q05_event_customers(spark, sf_dir).select(
        F.lit("semi").alias("section"),
        F.col("user_id").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
    )
    return anti.unionByName(semi)


_Q04_SET_SQL = f"""
SELECT 'anti' AS section, CAST(o_orderkey AS BIGINT) AS k1,
       CAST(o_custkey AS BIGINT) AS k2
FROM ({_Q04_SQL})
UNION ALL
SELECT 'semi' AS section, CAST(user_id AS BIGINT) AS k1,
       CAST(NULL AS BIGINT) AS k2
FROM ({_Q05_SQL})
"""


# --------------------------------------------------------------------------
# matching / similarity (reference-parity operators)
# --------------------------------------------------------------------------

def q06_string_sim(spark, sf_dir):
    """X1/J3: all-pairs normalized Levenshtein (nation × region)."""
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    return (
        n.crossJoin(r)
        .select(
            "n_name",
            "r_name",
            F.round(norm_levenshtein(F.lower("n_name"), F.lower("r_name")), 6).alias("rating"),
        )
    )


_Q06_SQL = """
SELECT n_name, r_name,
       round(1.0 - levenshtein(lower(n_name), lower(r_name))
                   / greatest(length(n_name), length(r_name)), 6) AS rating
FROM nation CROSS JOIN region
"""


def q07_greedy_round1(spark, sf_dir):
    """W1: one locally-dominant round of greedy 1:1 selection."""
    scored = q06_string_sim(spark, sf_dir)
    w1 = Window.partitionBy("n_name").orderBy(F.col("rating").desc(), F.col("r_name"))
    w2 = Window.partitionBy("r_name").orderBy(F.col("rating").desc(), F.col("n_name"))
    return (
        scored.withColumn("rk1", F.row_number().over(w1))
        .withColumn("rk2", F.row_number().over(w2))
        .filter((F.col("rk1") == 1) & (F.col("rk2") == 1))
        .select("n_name", "r_name", "rating")
    )


_Q07_SQL = f"""
WITH scored AS ({_Q06_SQL}),
ranked AS (
  SELECT n_name, r_name, rating,
         row_number() OVER (PARTITION BY n_name ORDER BY rating DESC, r_name) AS rk1,
         row_number() OVER (PARTITION BY r_name ORDER BY rating DESC, n_name) AS rk2
  FROM scored)
SELECT n_name, r_name, rating FROM ranked WHERE rk1 = 1 AND rk2 = 1
"""


def q08_interval_overlap(spark, sf_dir):
    """X10: per-brand size intervals, pairwise overlap similarity."""
    p = _t(spark, sf_dir, "part")
    iv = p.groupBy("p_brand").agg(
        F.min("p_size").alias("lo"), F.max("p_size").alias("hi")
    )
    a = iv.select(
        F.col("p_brand").alias("brand1"), F.col("lo").alias("lo1"), F.col("hi").alias("hi1")
    )
    b = iv.select(
        F.col("p_brand").alias("brand2"), F.col("lo").alias("lo2"), F.col("hi").alias("hi2")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("brand1") < F.col("brand2"))
        .select(
            "brand1",
            "brand2",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    (F.least("hi1", "hi2") - F.greatest("lo1", "lo2")).cast("double"),
                )
                / F.greatest(
                    F.lit(1.0),
                    F.greatest(
                        F.col("hi1") - F.col("lo1"), F.col("hi2") - F.col("lo2")
                    ).cast("double"),
                ),
                6,
            ).alias("overlap_sim"),
        )
    )


_Q08_SQL = """
WITH iv AS (SELECT p_brand, min(p_size) AS lo, max(p_size) AS hi FROM part GROUP BY 1)
SELECT a.p_brand AS brand1, b.p_brand AS brand2,
       round(greatest(0.0, (least(a.hi, b.hi) - greatest(a.lo, b.lo))::DOUBLE)
             / greatest(1.0, greatest(a.hi - a.lo, b.hi - b.lo)::DOUBLE), 6) AS overlap_sim
FROM iv a CROSS JOIN iv b WHERE a.p_brand < b.p_brand
"""


def q09_dedup_window(spark, sf_dir):
    """F5/A7: first-wins dedup via ranking window."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey", "l_partkey").orderBy(
        F.col("l_quantity").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    )


_Q09_SQL = """
SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
  SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey, l_partkey
                            ORDER BY l_quantity DESC, l_linenumber) AS rk
  FROM lineitem) WHERE rk = 1
"""


# --------------------------------------------------------------------------
# embeddings: ANN / centroids / kNN
# --------------------------------------------------------------------------

def _emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


def q10_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector.

    Retired from the driver window (round-5 item #2): the single-probe
    top-10 is strictly subsumed by q12 (brute kNN, 3 probes, same
    cosine/broadcast plan) and q32 (the LSH scale path) — its DuckDB
    twin stays here and tests/test_retired_entries.py keeps the
    function itself under the same hash check."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine_sim("emb", "qv"), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


_Q10_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         round(list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) AS sim
  FROM embeddings CROSS JOIN q WHERE vec_id != 0)
SELECT vec_id, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10
"""


def q11_label_centroids(spark, sf_dir):
    """Per-label centroid components (posexplode + grouped mean)."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("idx", "comp"))
        .groupBy("label", "idx")
        .agg(F.round(F.avg("comp"), 6).alias("centroid"))
    )


_Q11_SQL = """
SELECT label, i - 1 AS idx, round(avg(embedding[i]::DOUBLE), 6) AS centroid
FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
GROUP BY 1, 2
"""


def q12_knn(spark, sf_dir):
    """kNN: 5 nearest neighbors for each of the 3 lowest vec_ids."""
    e = _emb(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("pv")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", F.round(cosine_sim("emb", "pv"), 6).alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("probe_id", "vec_id", "sim", "rk")
    )


_Q12_SQL = """
WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv FROM embeddings WHERE vec_id < 3),
s AS (
  SELECT probe_id, vec_id,
         round(list_dot_product(embedding::DOUBLE[], pv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(pv, pv))), 6) AS sim
  FROM embeddings CROSS JOIN p WHERE vec_id != probe_id),
r AS (SELECT probe_id, vec_id, sim,
             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
      FROM s)
SELECT probe_id, vec_id, sim, rk FROM r WHERE rk <= 5
"""


# --------------------------------------------------------------------------
# documents: dedup / fingerprints / text analysis
# --------------------------------------------------------------------------

def _doc_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
        ).alias("tok"),
    )


_DOC_TOKENS_SQL = """
SELECT doc_id, source, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
FROM documents
"""


def q13_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup candidates with exact jaccard.

    8 md5-minhashes, 2 bands of 4 -> candidate pairs sharing a band;
    oversized buckets (> 50 docs) are skipped — the standard production
    guard against degenerate all-similar corpora, where banding degrades
    to all-pairs; the cap is part of the operator contract (and of the
    oracle), not a silent truncation. Survivors verified with exact
    token-set jaccard >= 0.4.

    The token relation is read three times (signatures + both sides of
    the verification join); a lazy localCheckpoint materializes the
    tokenize pass once and serves all three as columnar scans.
    """
    toks = _doc_tokens(spark, sf_dir).localCheckpoint(eager=False)
    sig = toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("tok"), F.lit(f":{i}")))).alias(f"h{i}")
            for i in range(8)
        ],
        F.count("*").alias("n_tok"),
    )
    bands = sig.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.array(
                F.md5(F.concat_ws("|", "h0", "h1", "h2", "h3")),
                F.md5(F.concat_ws("|", "h4", "h5", "h6", "h7")),
            )
        ).alias("bucket"),
    )
    bucket_sizes = bands.groupBy("bucket").agg(F.count("*").alias("_bs"))
    bands = bands.join(
        bucket_sizes.filter(F.col("_bs") <= 50).select("bucket"), on="bucket"
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), on="bucket")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n_tok").alias("n1"),
            F.col("b.n_tok").alias("n2"),
        )
        .distinct()
    )
    t1 = toks.select(F.col("doc_id").alias("d1"), "tok")
    t2 = toks.select(F.col("doc_id").alias("d2"), "tok")
    inter = (
        pairs.join(t1, "d1").join(t2, ["d2", "tok"])
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.4)
        .select("d1", "d2", "jaccard")
    )


_Q13_SQL = f"""
WITH toks AS ({_DOC_TOKENS_SQL}),
sig AS (
  SELECT doc_id,
         min(md5(tok || ':0')) AS h0, min(md5(tok || ':1')) AS h1,
         min(md5(tok || ':2')) AS h2, min(md5(tok || ':3')) AS h3,
         min(md5(tok || ':4')) AS h4, min(md5(tok || ':5')) AS h5,
         min(md5(tok || ':6')) AS h6, min(md5(tok || ':7')) AS h7,
         count(*) AS n_tok
  FROM toks GROUP BY 1),
bands_all AS (
  SELECT doc_id, n_tok,
         unnest([md5(h0 || '|' || h1 || '|' || h2 || '|' || h3),
                 md5(h4 || '|' || h5 || '|' || h6 || '|' || h7)]) AS bucket FROM sig),
bands AS (
  SELECT * FROM bands_all
  WHERE bucket IN (SELECT bucket FROM bands_all GROUP BY 1 HAVING count(*) <= 50)),
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.n_tok AS n1, b.n_tok AS n2
  FROM bands a JOIN bands b USING (bucket) WHERE a.doc_id < b.doc_id),
inter AS (
  SELECT d1, d2, n1, n2, count(*) AS n_inter
  FROM pairs JOIN toks ta ON ta.doc_id = d1 JOIN toks tb ON tb.doc_id = d2 AND tb.tok = ta.tok
  GROUP BY 1, 2, 3, 4)
SELECT d1, d2, round(n_inter / (n1 + n2 - n_inter)::DOUBLE, 6) AS jaccard
FROM inter WHERE round(n_inter / (n1 + n2 - n_inter)::DOUBLE, 6) >= 0.4
"""


def q14_ngram_jaccard(spark, sf_dir):
    """Word-trigram shingle jaccard within source blocks (>= 0.2)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i + 1), F.element_at("t", i + 2), F.element_at("t", i + 3)
                    ),
                )
            )
        ).alias("sh"),
    )
    sizes = sh.groupBy("doc_id", "source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "source", "sh")
    b = sh.select(F.col("doc_id").alias("d2"), "source", "sh")
    inter = (
        a.join(b, on=["source", "sh"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(s1, "d1").join(s2, "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"), 6
            ),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("d1", "d2", "jaccard")
    )


_Q14_SQL = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 3),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               for i in generate_series(1, len(t) - 2)])) AS sh
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2,
       round(n_inter / (s1.n + s2.n - n_inter)::DOUBLE, 6) AS jaccard
FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE round(n_inter / (s1.n + s2.n - n_inter)::DOUBLE, 6) >= 0.2
"""


def q15_simhash(spark, sf_dir):
    """16-bit SimHash from md5 hex-digit parities (engine-identical)."""
    toks = _doc_tokens(spark, sf_dir).select("doc_id", "tok")
    hexs = "0123456789abcdef"
    bits = toks.select(
        "doc_id",
        F.md5("tok").alias("h"),
        F.explode(F.sequence(F.lit(1), F.lit(16))).alias("b"),
    ).select(
        "doc_id",
        "b",
        F.when(
            ((F.instr(F.lit(hexs), F.expr("substr(h, b, 1)")) - 1) % 2) == 1, 1
        ).otherwise(-1).alias("v"),
    )
    agg = bits.groupBy("doc_id", "b").agg(F.sum("v").alias("s"))
    return (
        agg.withColumn("bit", F.when(F.col("s") > 0, F.lit("1")).otherwise(F.lit("0")))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(F.struct("b", "bit"))), lambda x: x["bit"])
            ).alias("simhash")
        )
    )


_Q15_SQL = f"""
WITH toks AS ({_DOC_TOKENS_SQL}),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), b, 1)) - 1) % 2 = 1
              THEN 1 ELSE -1 END AS v
  FROM toks CROSS JOIN generate_series(1, 16) AS g(b)),
agg AS (SELECT doc_id, b, sum(v) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
FROM agg GROUP BY 1
"""


def q16_doc_stats(spark, sf_dir):
    """Token counting, BPE-ish counting, quality score, fingerprint.
    Driver-gated through the merged q16_doc_profile entry."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe"),
        quality_score("text").alias("quality"),
        english_stopword_ratio("text").alias("stop_ratio"),
        doc_fingerprint("text").alias("fingerprint"),
    )


_Q16_SQL = f"""
SELECT doc_id,
       CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
            ELSE len(regexp_split_to_array(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
       END AS n_tokens,
       len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe,
       round(0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                    / length(text))
             + 0.4 * least(1.0, length(text) / 200.0)
             + 0.2 * (CASE WHEN regexp_matches(text, '[.!?]\\s*$') THEN 1.0 ELSE 0.0 END),
             6) AS quality,
       round(len(list_filter(regexp_split_to_array(
                       regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                             t -> list_contains({_STOP_SQL}, t)))::DOUBLE
             / len(regexp_split_to_array(
                       regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')),
             6) AS stop_ratio,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


def q17_langid(spark, sf_dir):
    """Stopword-ratio language heuristic.
    Driver-gated through the merged q16_doc_profile entry."""
    d = _t(spark, sf_dir, "documents")
    ratio = english_stopword_ratio("text")
    return d.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


_Q17_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN round(len(list_filter(regexp_split_to_array(
                         regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                                       t -> list_contains({_STOP_SQL}, t)))::DOUBLE
                       / len(regexp_split_to_array(
                         regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')),
                       6) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_pred
FROM documents
"""


def q16_doc_profile(spark, sf_dir):
    """Per-document text-analysis profile under ONE driver gate: the
    q16 stats family (token counts, BPE-ish counts, quality score,
    stopword ratio, fingerprint) plus the q17 stopword-ratio language
    heuristic — all pure per-row projections of the same documents
    scan, so the merged query is a single select (one scan, zero
    shuffles; narrower than running the two separately). Consolidated
    for the driver's 50-entry correctness window (round-5 item #2)."""
    d = _t(spark, sf_dir, "documents")
    ratio = english_stopword_ratio("text")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe"),
        quality_score("text").alias("quality"),
        ratio.alias("stop_ratio"),
        doc_fingerprint("text").alias("fingerprint"),
        "lang",
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


_Q16_PROFILE_SQL = f"""
SELECT s.doc_id, s.n_tokens, s.n_bpe, s.quality, s.stop_ratio,
       s.fingerprint, l.lang, l.lang_pred
FROM ({_Q16_SQL}) s JOIN ({_Q17_SQL}) l USING (doc_id)
"""


def q18_entity_link(spark, sf_dir):
    """J2 mention⋈dictionary exact linking over document tokens."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    )
    dict_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(t,) for t in LINK_TERMS], 1), "term string"
    )
    return (
        toks.join(F.broadcast(dict_df), toks.tok == dict_df.term)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("n_mentions"))
    )


_Q18_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents),
terms(term) AS (VALUES {_TERMS_SQL[1:-1]})
SELECT doc_id, term, count(*) AS n_mentions
FROM toks JOIN terms ON tok = term
GROUP BY 1, 2
"""


def q19_fuzzy_link(spark, sf_dir):
    """Fuzzy candidate generation: distinct tokens vs dictionary, blocked
    on first letter, normalized Levenshtein >= 0.4 (exact hits excluded;
    0.4 is the document vocabulary's top non-exact band, so the query
    produces candidates at every SF)."""
    toks = (
        _doc_tokens(spark, sf_dir)
        .select("tok").distinct()
        .withColumn("blk", F.substring("tok", 1, 1))
    )
    dict_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(t,) for t in LINK_TERMS], 1), "term string"
    ).withColumn("blk", F.substring("term", 1, 1))
    return (
        toks.join(F.broadcast(dict_df), on="blk")
        .filter(F.col("tok") != F.col("term"))
        .withColumn("rating", F.round(norm_levenshtein("tok", "term"), 6))
        .filter(F.col("rating") >= 0.4)
        .select("tok", "term", "rating")
    )


_Q19_SQL = f"""
WITH toks AS (
  SELECT DISTINCT unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
  FROM documents),
terms(term) AS (VALUES {_TERMS_SQL[1:-1]})
SELECT tok, term,
       round(1.0 - levenshtein(tok, term)::DOUBLE / greatest(length(tok), length(term)), 6) AS rating
FROM toks JOIN terms ON substr(tok, 1, 1) = substr(term, 1, 1)
WHERE tok != term
  AND round(1.0 - levenshtein(tok, term)::DOUBLE / greatest(length(tok), length(term)), 6) >= 0.4
"""


# --------------------------------------------------------------------------
# events: windows / sessionization (streaming semantics as batch)
# --------------------------------------------------------------------------

def q20_events_hourly(spark, sf_dir):
    """Hourly grouped aggregation over events.

    Retired from the driver window (round-5 item #2): the q40 rollup's
    3600-second level is the same aggregation (per event_type hourly
    count + decimal sum) computed through the re-aggregation ladder, so
    this gate was redundant — the DuckDB twin stays here and
    tests/test_retired_entries.py keeps the function under the same
    hash check."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4)
        .alias("sum_value"),
    )


_Q20_SQL = """
SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
       count(*) AS n, round(sum(value::DECIMAL(18,6))::DOUBLE, 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q21_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) via lag + cumulative sum.
    Driver-gated through the merged q21_user_activity entry."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = e.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800
        ).cast("int").alias("new_sess"),
    ).fillna({"new_sess": 1})
    sess = with_gap.withColumn(
        "session_no", F.sum("new_sess").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return sess.groupBy("user_id").agg(
        F.max("session_no").alias("n_sessions"), F.count("*").alias("n_events")
    )


_Q21_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g)
SELECT user_id, CAST(max(session_no) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY 1
"""


# --------------------------------------------------------------------------
# KG-pipeline stages under the oracle gate (mention detection + linking)
# --------------------------------------------------------------------------

def _doc_transcripts(spark, sf_dir):
    """Documents reshaped to one single-turn conversation each."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "text",
    )


_DOC_TOKS_SQL = r"""
  SELECT doc_id::VARCHAR AS conv_id, 0 AS turn_idx,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9#\-]+'),
                     x -> x != '') AS toks
  FROM documents
"""

_STOPGRAMS_SQL = "('the', 'a', 'an', 'in', 'this', 'of')"


def q24_mention_grams(spark, sf_dir):
    """Pipeline stage 1 (mention detection) under the value-hash gate:
    unigram+bigram candidate grams with token positions."""
    from prom_spark.pipeline.mentions import detect_mentions

    return detect_mentions(_doc_transcripts(spark, sf_dir)).select(
        "conv_id",
        "turn_idx",
        "gram",
        F.col("start").alias("start_pos"),
        F.col("end").alias("end_pos"),
    )


_GRAMS_SQL = f"""
  SELECT conv_id, turn_idx, r.gram AS gram,
         r.start_pos AS start_pos, r.end_pos AS end_pos
  FROM (
    SELECT conv_id, turn_idx,
           unnest([{{'gram': toks[i], 'start_pos': i - 1, 'end_pos': i - 1}}
                   for i in generate_series(1, len(toks))]
                  || [{{'gram': toks[i] || ' ' || toks[i + 1],
                        'start_pos': i - 1, 'end_pos': i}}
                      for i in generate_series(1, len(toks) - 1)]) AS r
    FROM t)
  WHERE r.gram NOT IN {_STOPGRAMS_SQL}
"""

_Q24_SQL = f"""
WITH t AS ({_DOC_TOKS_SQL})
{_GRAMS_SQL}
"""


def q25_entity_linking(spark, sf_dir):
    """Pipeline stage 3 (entity-link scoring + span selection) under the
    value-hash gate: exact broadcast path, fuzzy
    Levenshtein+embedding-cosine ensemble, best-candidate-per-span."""
    from prom_spark.pipeline.kg import link_mentions, term_dictionary
    from prom_spark.pipeline.mentions import detect_mentions

    linked = link_mentions(
        detect_mentions(_doc_transcripts(spark, sf_dir)),
        term_dictionary(spark, LINK_TERMS),
    )
    return linked.select(
        "conv_id",
        "turn_idx",
        "gram",
        F.col("start").alias("start_pos"),
        F.col("end").alias("end_pos"),
        "entity_id",
        F.round("rating", 6).alias("rating"),
    )


def _emb_sql(expr: str) -> str:
    from prom_spark.functions.embedding import hash_embedding_sql

    return hash_embedding_sql(expr)


_Q25_SQL = f"""
WITH t AS ({_DOC_TOKS_SQL}),
m AS ({_GRAMS_SQL}),
terms(term) AS (VALUES {_TERMS_SQL[1:-1]}),
dict AS (
  SELECT term, 'E_' || term AS entity_id, {_emb_sql('term')} AS emb FROM terms),
exact AS (
  SELECT conv_id, turn_idx, gram, start_pos, end_pos, entity_id, 1.0 AS rating
  FROM m JOIN dict ON gram = term),
dg AS (
  SELECT DISTINCT gram FROM m
  WHERE gram NOT IN (SELECT term FROM dict)),
fz AS (
  SELECT gram, entity_id,
         0.5 * (1 - levenshtein(gram, term) / greatest(length(gram), length(term)))
         + 0.5 * greatest(0.0,
             list_dot_product({_emb_sql('gram')}, emb)
             / (sqrt(list_dot_product({_emb_sql('gram')}, {_emb_sql('gram')}))
                * sqrt(list_dot_product(emb, emb)))) AS rating
  FROM dg JOIN dict
    ON substr(gram, 1, 1) = substr(term, 1, 1)
   AND len(string_split(gram, ' ')) = len(string_split(term, ' '))
  WHERE (1 - levenshtein(gram, term) / greatest(length(gram), length(term))) >= 0.5),
fz_kept AS (SELECT * FROM fz WHERE rating > 0.6),
cand AS (
  SELECT * FROM exact
  UNION ALL
  SELECT m.conv_id, m.turn_idx, m.gram, m.start_pos, m.end_pos,
         fz_kept.entity_id, fz_kept.rating
  FROM m JOIN fz_kept ON m.gram = fz_kept.gram),
sel AS (
  SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx, start_pos, end_pos
      ORDER BY rating DESC, entity_id) AS rk
  FROM cand WHERE rating > 0.6)
SELECT conv_id, turn_idx, gram, start_pos, end_pos, entity_id,
       round(rating, 6) AS rating
FROM sel WHERE rk = 1
"""


# --------------------------------------------------------------------------
# iterative ops under recursive-CTE oracles
# --------------------------------------------------------------------------

def q22_doc_components(spark, sf_dir):
    """G1: connected components over near-dup doc pairs (iterative)."""
    from prom_spark.operators.connected_components import connected_components

    pairs = q13_minhash_lsh(spark, sf_dir).select(
        F.col("d1").cast("string").alias("src"), F.col("d2").cast("string").alias("dst")
    )
    return connected_components(pairs, "src", "dst")


# DuckDB twin of large-star/small-star convergence: component = min node
# reachable from each node (string-ordered, matching the Spark operator's
# string-cast ids). min-reach enumeration is fine at oracle scale.
_Q22_SQL = f"""
WITH RECURSIVE p AS ({_Q13_SQL}),
e0 AS (
  SELECT d1::VARCHAR AS u, d2::VARCHAR AS v FROM p WHERE d1::VARCHAR != d2::VARCHAR),
edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
nodes AS (SELECT DISTINCT u AS node FROM edges),
r(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, e.v FROM r JOIN edges e ON r.reach = e.u)
SELECT node, min(reach) AS component FROM r GROUP BY node
"""


def q23_greedy_full(spark, sf_dir):
    """W1: full iterative greedy 1:1 selection over string-sim scores."""
    from prom_spark.operators.selection import greedy_one_to_one

    scored = q06_string_sim(spark, sf_dir)
    return greedy_one_to_one(
        scored, uid1_col="n_name", uid2_col="r_name", threshold=0.1
    )


# DuckDB twin of the parallel locally-dominant matching: sequential greedy
# under the SAME total order (rating desc, uid1, uid2) — provably identical
# output — walked one edge per recursion step with list-accumulated taken
# sets. Strictly-greater threshold matches enforce_threshold.
_Q23_SQL = f"""
WITH RECURSIVE scored AS (
  SELECT * FROM ({_Q06_SQL}) WHERE rating > 0.1),
ranked AS (
  SELECT n_name, r_name, rating,
         row_number() OVER (ORDER BY rating DESC, n_name, r_name) AS rk
  FROM scored),
g(rk, used1, used2, n_name, r_name, rating, sel) AS (
  SELECT 0, []::VARCHAR[], []::VARCHAR[],
         NULL::VARCHAR, NULL::VARCHAR, NULL::DOUBLE, false
  UNION ALL
  SELECT s.rk,
         CASE WHEN NOT list_contains(g.used1, s.n_name)
                   AND NOT list_contains(g.used2, s.r_name)
              THEN list_append(g.used1, s.n_name) ELSE g.used1 END,
         CASE WHEN NOT list_contains(g.used1, s.n_name)
                   AND NOT list_contains(g.used2, s.r_name)
              THEN list_append(g.used2, s.r_name) ELSE g.used2 END,
         s.n_name, s.r_name, s.rating,
         (NOT list_contains(g.used1, s.n_name)
          AND NOT list_contains(g.used2, s.r_name))
  FROM g JOIN ranked s ON s.rk = g.rk + 1)
SELECT n_name, r_name, rating FROM g WHERE sel
"""


def q28_embedding_near_dupes(spark, sf_dir):
    """Banded hyperplane-LSH embedding near-dup under the hash gate.

    The embeddings table has no true near-dups (max pairwise cosine
    ~0.5), so the input is the table unioned with an id-shifted copy of
    itself: every vector gains exactly one exact duplicate at cosine
    1.0, which the bucketing must recover and the exact-cosine verify
    must score. Planes are deterministic md5 vectors, so the oracle
    recomputes identical buckets."""
    from prom_spark.operators.dedup import embedding_near_dupes

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    both = e.unionByName(
        e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    out = embedding_near_dupes(both, "vec_id", "embedding", threshold=0.95)
    return out.select(
        "id1", "id2", F.round("cosine", 6).alias("cosine")
    )


def _planes_sql(n_planes: int, dim: int) -> str:
    from prom_spark.operators.dedup import _deterministic_planes

    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}])"
        for i, p in enumerate(_deterministic_planes(n_planes, dim))
    )
    return f"SELECT pid::INT AS pid, p::DOUBLE[] AS p FROM (VALUES\n    {rows}) t(pid, p)"


def _q28_sql() -> str:
    return f"""
WITH planes AS ({_planes_sql(144, 64)}),
e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings),
dots AS (
  SELECT vec_id, pid,
         CASE WHEN list_dot_product(e, p) > 0 THEN 1 ELSE 0 END AS b
  FROM e CROSS JOIN planes),
sig AS MATERIALIZED (
  SELECT vec_id,
         (pid // 12)::VARCHAR || ':' || string_agg(b::VARCHAR, '' ORDER BY pid) AS bucket
  FROM dots GROUP BY vec_id, pid // 12),
pairs AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM sig a JOIN sig b USING (bucket) WHERE a.vec_id < b.vec_id),
scored AS (
  SELECT id1, id2,
         round(list_dot_product(e1.e, e2.e)
               / (sqrt(list_dot_product(e1.e, e1.e)) * sqrt(list_dot_product(e2.e, e2.e))),
               6) AS cosine
  FROM pairs JOIN e e1 ON e1.vec_id = id1 JOIN e e2 ON e2.vec_id = id2)
SELECT id1, id2, cosine FROM scored WHERE cosine >= 0.95
"""


def q29_simhash_near_dupes(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 2) at the scale-right 64-bit
    width (two md5 digests) with pigeonhole-complete 3-band blocking,
    over the documents table. 16 bits saturate at corpus scale (29% pair
    density already at 500 docs); at 64 bits pair density is ~1% on this
    template-similar synthetic corpus and -> true near-dups at scale."""
    from prom_spark.operators.dedup import simhash_near_dupes

    d = _t(spark, sf_dir, "documents")
    return simhash_near_dupes(d, "doc_id", "text", bits=64, max_hamming=2).select(
        "id1", "id2", F.col("hamming").cast("int").alias("hamming")
    )


# 64-bit two-digest simhash; 3 bands: sizes 22/21/21 at offsets 1/23/44
# — mirrors the operator's max_hamming+1 banding exactly
_Q29_SQL = f"""
WITH toks AS ({_DOC_TOKENS_SQL}),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (strpos('0123456789abcdef',
                 substr(md5(tok) || md5(tok || '#2'), b, 1)) - 1) % 2 = 1
              THEN 1 ELSE -1 END AS v
  FROM toks CROSS JOIN generate_series(1, 64) AS g(b)),
agg AS (SELECT doc_id, b, sum(v) AS s FROM bits GROUP BY 1, 2),
sh AS MATERIALIZED (
  SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
  FROM agg GROUP BY 1),
blocked AS MATERIALIZED (
  SELECT doc_id, simhash,
         unnest(['0:' || substr(simhash, 1, 22),
                 '1:' || substr(simhash, 23, 21),
                 '2:' || substr(simhash, 44, 21)]) AS blk
  FROM sh),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                  a.simhash AS s1, b.simhash AS s2
  FROM blocked a JOIN blocked b USING (blk) WHERE a.doc_id < b.doc_id),
h AS (
  SELECT id1, id2,
         list_sum(list_transform(range(1, 65),
             i -> CASE WHEN substr(s1, i, 1) != substr(s2, i, 1)
                       THEN 1 ELSE 0 END))::INT AS hamming
  FROM pairs)
SELECT id1, id2, hamming FROM h WHERE hamming <= 2
"""


# --------------------------------------------------------------------------
# golden-alignment chain under the oracle gate (fixture-driven; sf-independent)
# --------------------------------------------------------------------------

def _fixture_sides(spark):
    from prom_spark import fixtures
    from prom_spark.matchers.analysis import analyze_labels

    # eager single-partition checkpoints: the lexical cascade references
    # each side a dozen times; without this every rule branch re-runs the
    # analysis UDF and its shuffle (fixture is 37 rows — one partition)
    labels = fixtures.onto_labels(spark)
    return (
        analyze_labels(labels.filter(F.col("onto") == "a"))
        .coalesce(1).localCheckpoint(eager=True),
        analyze_labels(labels.filter(F.col("onto") == "fr"))
        .coalesce(1).localCheckpoint(eager=True),
    )


class _few_shuffle_partitions:
    """Execute a fixture-sized plan at low shuffle parallelism.

    The golden-fixture chain is ~60 tiny stages over 37 rows; at the
    session's corpus-sized shuffle width every stage schedules dozens of
    empty tasks. Conf is applied around an EAGER materialization and
    restored after — corpus queries in the same session are unaffected.
    """

    def __init__(self, spark, n: int = 4):
        self.spark, self.n = spark, str(n)

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.n)
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


# per-session cache of the golden-fixture lexical vector: q27's
# structural blend consumes exactly q26's lexical chain, and both used to
# recompute the whole ~60-stage fixture cascade from scratch (48s of
# fixed 37-row overhead per bench run). The vector is checkpointed once
# per SparkSession and shared.
_LEXICAL_VECTOR_CACHE: dict[str, DataFrame] = {}


def _lexical_vector(spark):
    from prom_spark import fixtures
    from prom_spark.matchers.lexical import lexical_match

    key = spark.sparkContext.applicationId
    lv = _LEXICAL_VECTOR_CACHE.get(key)
    if lv is None:
        with _few_shuffle_partitions(spark):
            an1, an2 = _fixture_sides(spark)
            lv = (
                lexical_match(
                    an1, an2,
                    fixtures.alias_dictionary(spark),
                    fixtures.domain_vocabulary(spark),
                )
                .coalesce(1)
                .localCheckpoint(eager=True)
            )
        _LEXICAL_VECTOR_CACHE[key] = lv
    return lv


def q26_lexical_align(spark, sf_dir):
    """J1/J2/A7 + X-family: full lexical match vector over the reference
    fixture ontologies (explicit + implicit rules, contradiction-pruned).
    Oracle: independent SQL re-expression in oracle_golden.q26_sql."""
    return _lexical_vector(spark).select(
        "elem_type", "iri1", "iri2", "relation",
        F.round("rating", 6).alias("rating"),
    )


def q27_structural_blend(spark, sf_dir):
    """J5/J6/J9 + A8 + X11-X13: semi-mode structural blending of the
    lexical vector (OP/DP axiom scoring, class participation vectors,
    50/50 semantic+structural combine, contradiction-pruned)."""
    from prom_spark import fixtures
    from prom_spark.matchers.structural import structural_match

    with _few_shuffle_partitions(spark):
        sem = _lexical_vector(spark)
        rated = structural_match(
            sem,
            fixtures.class_axioms(spark).filter(F.col("onto") == "a"),
            fixtures.class_axioms(spark).filter(F.col("onto") == "fr"),
            fixtures.op_axioms(spark).filter(F.col("onto") == "a"),
            fixtures.op_axioms(spark).filter(F.col("onto") == "fr"),
            fixtures.dp_axioms(spark).filter(F.col("onto") == "a"),
            fixtures.dp_axioms(spark).filter(F.col("onto") == "fr"),
        )
        return rated.select(
            "elem_type", "iri1", "iri2", "relation",
            F.round("rating", 6).alias("rating"),
        ).localCheckpoint(eager=True)


def q30_abox_match(spark, sf_dir):
    """J7/J8/J11 + A3/A4 + X8/X9 + W1: blocked individual (ABox)
    matching end-to-end over the reference fixture individuals —
    subclass-closure blocking with subclass-unique filtering, DP
    value-set vectors (equality/subset scoring + cosine over populated
    cells), OP in/out degree-vector cosines, .2 label / .8 structure
    combine, greedy 1:1 selection (reference src/abox_matcher.py:49-271).
    The TBox alignment input is the typed golden reference alignment
    (fixtures.abox_reference_tbox) so the chain is deterministic and
    independent of the lexical/structural matchers. Oracle: independent
    SQL re-expression in oracle_golden.q30_sql (recursive-CTE closure +
    sequential greedy twin)."""
    from prom_spark import fixtures
    from prom_spark.matchers.abox import abox_match

    with _few_shuffle_partitions(spark):
        inds = fixtures.individuals(spark)
        pvs = fixtures.prop_values(spark)
        cax = fixtures.class_axioms(spark)
        out = abox_match(
            inds.filter(F.col("onto") == "a"),
            inds.filter(F.col("onto") == "fr"),
            pvs.filter(F.col("onto") == "a"),
            pvs.filter(F.col("onto") == "fr"),
            fixtures.abox_reference_tbox(spark),
            cax.filter(F.col("onto") == "a"),
            cax.filter(F.col("onto") == "fr"),
        )
        return out.select(
            "ind1", "ind2", F.round("rating", 6).alias("rating")
        ).localCheckpoint(eager=True)


def q32_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed ANN top-k (the deterministic scale path next to the
    q10/q12 brute-force baseline and the recall-tested IVF operator).

    Probes are vec_id < 3, corpus is the rest; identical md5-derived
    hyperplanes on both engines make buckets — hence candidates, hence
    the top-k — bit-reproducible, so approximation error never enters
    the hash comparison."""
    from prom_spark.operators.ann import lsh_topk

    e = _emb(spark, sf_dir)
    out = lsh_topk(
        e.filter(F.col("vec_id") >= 3).select("vec_id", F.col("emb").alias("embedding")),
        e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("probe_id"), F.col("emb").alias("embedding")
        ),
        k=10,
    )
    return out.select("probe_id", "vec_id", F.round("sim", 6).alias("sim"), "rk")


def _q32_sql() -> str:
    return f"""
WITH planes AS ({_planes_sql(108, 64)}),
corpus AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 3),
probes AS MATERIALIZED (
  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 3),
c_sig AS MATERIALIZED (
  SELECT vec_id,
         (pid // 6)::VARCHAR || ':' ||
         string_agg(CASE WHEN list_dot_product(e, p) > 0 THEN 1 ELSE 0 END::VARCHAR,
                    '' ORDER BY pid) AS bucket
  FROM corpus CROSS JOIN planes GROUP BY vec_id, pid // 6),
p_sig AS MATERIALIZED (
  SELECT probe_id,
         (pid // 6)::VARCHAR || ':' ||
         string_agg(CASE WHEN list_dot_product(e, p) > 0 THEN 1 ELSE 0 END::VARCHAR,
                    '' ORDER BY pid) AS bucket
  FROM probes CROSS JOIN planes GROUP BY probe_id, pid // 6),
cand AS (
  SELECT DISTINCT probe_id, vec_id FROM c_sig JOIN p_sig USING (bucket)),
scored AS (
  -- rank by the RAW double (the Spark operator's window does), round
  -- only in the output: a 6-dp tie at the k boundary must not reorder
  SELECT cand.probe_id, cand.vec_id,
         list_dot_product(c.e, pr.e)
         / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(pr.e, pr.e)))
         AS sim_raw
  FROM cand
  JOIN corpus c ON c.vec_id = cand.vec_id
  JOIN probes pr ON pr.probe_id = cand.probe_id)
SELECT probe_id, vec_id, round(sim_raw, 6) AS sim, rk FROM (
  SELECT probe_id, vec_id, sim_raw,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY sim_raw DESC, vec_id) AS rk
  FROM scored) WHERE rk <= 10
"""


_TRI_K = 64  # profile size: top-K trigrams per language


def q31_trigram_langid(spark, sf_dir):
    """N5 char-trigram language-ID (Cavnar–Trenkle-style rank profiles).

    Two stages, both pure DataFrame ops (reference analogue: the
    row-at-a-time langdetect call at src/compare_by_labels.py:85-90):

      1. profile build — explode char trigrams of the normalized text,
         count per (lang, trigram), keep the top-K per language by
         (count desc, trigram asc); weight = K - rank + 1. The profile
         table is K × n_langs rows — broadcast-sized at ANY corpus
         scale (the groupBy is a map-side-combinable shuffle over at
         most |Σ|³ distinct keys per language).
      2. scoring — each doc's DISTINCT trigrams broadcast-join the
         profile; score per (doc, lang) = Σ weights; argmax with a
         deterministic (score desc, lang asc) tie-break.

    On the synthetic documents table the lang label is independent of
    the text (all languages share one vocabulary), so predictions
    cluster on the majority profile — the oracle gates the exact
    computation (profiles, scores, tie-breaks), not model accuracy.
    Integer weights keep the hash comparison exact."""
    d = _t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    docs = d.select("doc_id", "lang", norm.alias("t"))
    tris = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(t) >= 3 THEN "
                "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)) "
                "ELSE array() END"
            )
        ).alias("tri"),
    )
    # ONE explode + ONE map-side-combinable shuffle: both consumers
    # (the language profile and the per-doc distinct trigram set) are
    # re-aggregations of the same per-(doc, lang, trigram) counts.
    # Column pruning specializes the shared subtree per consumer and
    # defeats ReuseExchange, so the single computation is pinned with a
    # lazy localCheckpoint (the q26/q27 pattern) — the trigram stream
    # is exploded over the corpus exactly once.
    per_doc = (
        tris.groupBy("doc_id", "lang", "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    rnk_w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tri"))
    prof = (
        per_doc.groupBy("lang", "tri")
        .agg(F.sum("c").alias("cnt"))
        .withColumn("rnk", F.row_number().over(rnk_w))
        .filter(F.col("rnk") <= _TRI_K)
        .select(
            F.col("lang").alias("plang"),
            "tri",
            (F.lit(_TRI_K) - F.col("rnk") + 1).cast("long").alias("wgt"),
        )
    )
    # INVARIANT: doc_id functionally determines lang (doc_id is the
    # documents table's primary key), so per_doc's (doc_id, lang, tri)
    # grouping has at most one row per (doc_id, tri) and this projection
    # equals the oracle's SELECT DISTINCT doc_id, tri WITHOUT a second
    # shuffle. A duplicated doc_id carrying two langs would double-count
    # trigram weights here — pinned by
    # tests/test_trigram_langid.py::test_doc_id_determines_lang_invariant.
    doc_tris = per_doc.select("doc_id", "tri")
    scores = (
        doc_tris.join(F.broadcast(prof), "tri")
        .groupBy("doc_id", "plang")
        .agg(F.sum("wgt").alias("score"))
    )
    sel_w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("plang"))
    best = (
        scores.withColumn("rn", F.row_number().over(sel_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("lang_pred"), "score")
    )
    return docs.select("doc_id", "lang").join(best, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("lang_pred", F.lit("unk")).alias("lang_pred"),
        F.coalesce("score", F.lit(0)).cast("long").alias("score"),
    )


_Q31_SQL = f"""
WITH docs AS (
  SELECT doc_id, lang,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
), tris AS (
  SELECT doc_id, lang, substr(t, i, 3) AS tri
  FROM docs, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)
  WHERE length(t) >= 3
), prof AS (
  SELECT lang AS plang, tri, ({_TRI_K} - rnk + 1)::BIGINT AS wgt FROM (
    SELECT lang, tri,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, tri ASC) AS rnk
    FROM tris GROUP BY lang, tri
  ) WHERE rnk <= {_TRI_K}
), doc_tris AS (
  SELECT DISTINCT doc_id, tri FROM tris
), scores AS (
  SELECT doc_id, plang, sum(wgt) AS score
  FROM doc_tris JOIN prof USING (tri) GROUP BY doc_id, plang
), best AS (
  SELECT doc_id, plang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, plang ASC) AS rn
  FROM scores
)
SELECT d.doc_id, d.lang,
       coalesce(b.plang, 'unk') AS lang_pred,
       coalesce(b.score, 0)::BIGINT AS score
FROM docs d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
"""


def q33_optimal_selection(spark, sf_dir):
    """W2 exact maximum-weight 1:1 selection under the DuckDB hash gate
    (reference analogue: the exhaustive selector at
    src/alignment_selector.py:75-131; previously pytest-only vs a brute
    force — this row closes the last selection operator without an
    oracle entry).

    The candidate graph is derived arithmetically from the
    SF-independent nation x region tables: nations 0-7 edge to regions
    {0,1} (even keys) or {2,3,4} (odd keys) — two disjoint blocks, so
    the per-block decomposition is exercised — with
    rating = ((nk*rk + nk*8 + rk*3) % 19)/10 - 0.4. The multiplicative
    cross term makes weights non-additive, which is what lets the
    fixture distinguish OPTIMAL from GREEDY on positive edges (additive
    weights tie all complete matchings): the odd block's optimum swaps
    two greedy pairings for +0.4, and the even block's optimum DROPS a
    feasible negative edge greedy would take — both phenomena the
    branch-and-bound must get right, including its
    negative-rating-aware suffix bound."""
    from prom_spark.operators.selection import optimal_one_to_one

    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 8)
    r = _t(spark, sf_dir, "region")
    edges = (
        n.crossJoin(r)
        .filter(
            ((F.col("n_nationkey") % 2 == 0) & F.col("r_regionkey").isin(0, 1))
            | ((F.col("n_nationkey") % 2 == 1) & F.col("r_regionkey").isin(2, 3, 4))
        )
        .select(
            "n_name",
            "r_name",
            (
                (
                    (
                        F.col("n_nationkey") * F.col("r_regionkey")
                        + F.col("n_nationkey") * 8
                        + F.col("r_regionkey") * 3
                    )
                    % 19
                ).cast("double")
                / 10.0
                - 0.4
            ).alias("rating"),
        )
    )
    with _few_shuffle_partitions(spark):
        out = optimal_one_to_one(
            edges, uid1_col="n_name", uid2_col="r_name"
        ).localCheckpoint()
    return out.select("n_name", "r_name", F.round("rating", 2).alias("rating"))


# DuckDB twin: exhaustive enumeration of every 1:1 matching per block via
# a recursive CTE (paths over rank-ordered edges; each step either skips
# or — when both endpoints are free — takes the next edge), then the
# per-block argmax with the branch-and-bound's exact tie-break: the DFS
# explores take-before-skip in (rating desc, uid1, uid2) rank order and
# replaces only on STRICTLY greater totals, so among equal-total optima
# the first found has the lexicographically LARGEST take/skip indicator —
# ORDER BY total DESC, ind DESC. Totals accumulate in the same rank
# order on both engines, so equal sums are bit-identical doubles and no
# rounding enters the comparison.
_Q33_SQL = """
WITH RECURSIVE edges AS (
  SELECT n.n_name, r.r_name,
         ((n.n_nationkey * r.r_regionkey + n.n_nationkey * 8
           + r.r_regionkey * 3) % 19) / 10.0 - 0.4 AS rating,
         n.n_nationkey % 2 AS blk
  FROM nation n, region r
  WHERE n.n_nationkey < 8
    AND ((n.n_nationkey % 2 = 0 AND r.r_regionkey IN (0, 1))
      OR (n.n_nationkey % 2 = 1 AND r.r_regionkey IN (2, 3, 4)))
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY blk
                            ORDER BY rating DESC, n_name, r_name) AS rk,
         count(*) OVER (PARTITION BY blk) AS n_e
  FROM edges
),
paths(blk, i, used1, used2, ind, total, n_e) AS (
  SELECT blk, 0, []::VARCHAR[], []::VARCHAR[], '', 0.0::DOUBLE, n_e
  FROM (SELECT DISTINCT blk, n_e FROM ranked)
  UNION ALL
  SELECT p.blk, p.i + 1,
         CASE WHEN t.take = 1 THEN list_append(p.used1, s.n_name)
              ELSE p.used1 END,
         CASE WHEN t.take = 1 THEN list_append(p.used2, s.r_name)
              ELSE p.used2 END,
         p.ind || t.take::VARCHAR,
         p.total + CASE WHEN t.take = 1 THEN s.rating ELSE 0.0 END,
         p.n_e
  FROM paths p
  JOIN ranked s ON s.blk = p.blk AND s.rk = p.i + 1
  CROSS JOIN (SELECT unnest([0, 1]) AS take) t
  WHERE t.take = 0
     OR (NOT list_contains(p.used1, s.n_name)
         AND NOT list_contains(p.used2, s.r_name))
),
best AS (
  SELECT blk, ind FROM (
    SELECT blk, ind,
           row_number() OVER (PARTITION BY blk
                              ORDER BY total DESC, ind DESC) AS brk
    FROM paths WHERE i = n_e
  ) WHERE brk = 1
)
SELECT s.n_name, s.r_name, round(s.rating, 2) AS rating
FROM best b
JOIN ranked s ON s.blk = b.blk AND substr(b.ind, s.rk, 1) = '1'
"""


def q34_consistency_conflicts(spark, sf_dir):
    """G2 consistency-conflict detection under the DuckDB hash gate
    (reference analogue: the reasoner-flagged inconsistency loop at
    src/prom.py:138-168 / src/onto_debugger.py:88-124; the detection
    join was previously pytest-only — the fixpoint REPAIR loop stays
    pytest-gated, as an iterative algorithm whose per-round CC defies a
    single SQL expression).

    The fixture derives from the SF-independent nation table: chain
    equivalences over nationkeys {0-4}, {10-13} and {20,21} build three
    clusters; five disjoint assertions cover every interesting case —
    two INSIDE a cluster (the conflicts: both endpoints reach the same
    min-node component), two ACROSS clusters (no conflict), and one
    between nodes in no cluster at all (dropped by the inner component
    join)."""
    from prom_spark.operators.consistency import find_conflicts

    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    equiv = (
        n.filter(F.col("n_nationkey").isin(0, 1, 2, 3, 10, 11, 12, 20))
        .join(
            n.select(
                F.col("n_nationkey").alias("k2"), F.col("n_name").alias("iri2")
            ),
            F.col("k2") == F.col("n_nationkey") + 1,
        )
        .select(
            F.col("n_name").alias("iri1"),
            "iri2",
            (F.col("n_nationkey").cast("double") / 100.0 + 0.5).alias("rating"),
        )
    )
    dpairs = [(1, 3), (11, 13), (2, 12), (4, 20), (22, 23)]
    dp = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(a).alias("k1"), F.lit(b).alias("k2"))
                    for a, b in dpairs
                ]
            )
        ).alias("p")
    ).select("p.k1", "p.k2")
    disj = (
        dp.join(
            n.select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("iri1")),
            "k1",
        )
        .join(
            n.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("iri2")),
            "k2",
        )
        .select(
            "iri1",
            "iri2",
            (F.lit(0.9) - F.col("k1").cast("double") / 100.0).alias("rating"),
        )
    )
    with _few_shuffle_partitions(spark):
        out = find_conflicts(equiv, disj).localCheckpoint()
    return out.select(
        "iri1", "iri2", F.round("rating", 2).alias("rating"), "component"
    )


# DuckDB twin: the q22 recursive-CTE connected-components pattern
# (component = min reachable node) over the same arithmetically-derived
# equivalence chains, then the conflict join — a disjoint assertion is
# returned iff both endpoints carry the same component.
_Q34_SQL = """
WITH RECURSIVE
eq AS (
  SELECT n1.n_name AS iri1, n2.n_name AS iri2
  FROM nation n1 JOIN nation n2 ON n2.n_nationkey = n1.n_nationkey + 1
  WHERE n1.n_nationkey IN (0, 1, 2, 3, 10, 11, 12, 20)),
disj AS (
  SELECT a.n_name AS iri1, b.n_name AS iri2, 0.9 - d.k1 / 100.0 AS rating
  FROM (VALUES (1, 3), (11, 13), (2, 12), (4, 20), (22, 23)) d(k1, k2)
  JOIN nation a ON a.n_nationkey = d.k1
  JOIN nation b ON b.n_nationkey = d.k2),
e0 AS (SELECT iri1 AS u, iri2 AS v FROM eq WHERE iri1 != iri2),
edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
nodes AS (SELECT DISTINCT u AS node FROM edges),
r(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, e.v FROM r JOIN edges e ON r.reach = e.u),
cc AS (SELECT node, min(reach) AS component FROM r GROUP BY node)
SELECT d.iri1, d.iri2, round(d.rating, 2) AS rating, c1.component
FROM disj d
JOIN cc c1 ON c1.node = d.iri1
JOIN cc c2 ON c2.node = d.iri2
WHERE c1.component = c2.component
"""


def q35_quality_assess(spark, sf_dir):
    """A6 precision/recall/F quality assessment under the DuckDB hash
    gate (reference analogue: src/quality_assessment.py:27-55;
    previously pytest-only via the P=R=1.0 golden gate, which never
    exercises the PARTIAL-overlap arithmetic).

    Alignment and reference derive arithmetically from nation x region:
    alignment maps nationkeys 0-9 to region (nk % 5); the reference maps
    nationkeys 0-7 to region ((nk + [nk>=4]) % 5) — keys 0-3 agree, keys
    4-7 disagree, keys 8-9 are alignment-only. So n=10/8/4,
    P=0.4, R=0.5, F=0.4444, faulty=6, missed=4 — every count and both
    complement operators (`faulty_matches`, `missed_matches`) carry
    non-trivial values through the real `assess` code path."""
    from prom_spark import fixtures
    from prom_spark.pipeline.quality import (
        assess,
        faulty_matches,
        missed_matches,
    )

    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")

    def pairs(max_key, shift):
        keyed = n.filter(F.col("n_nationkey") < max_key)
        rk = (F.col("n_nationkey") + shift) % 5
        return keyed.join(r, F.col("r_regionkey") == rk).select(
            F.col("n_name").alias("iri1"),
            F.col("r_name").alias("iri2"),
            F.lit("=").alias("relation"),
        )

    al = pairs(10, F.lit(0))
    ref = pairs(8, (F.col("n_nationkey") >= 4).cast("int"))
    q = assess(al, ref)
    n_faulty = faulty_matches(al, ref).count()
    n_missed = missed_matches(al, ref).count()
    return fixtures._local_df(
        spark,
        [
            (
                q.n_alignment,
                q.n_reference,
                q.n_correct,
                n_faulty,
                n_missed,
                round(q.precision, 6),
                round(q.recall, 6),
                round(q.fmeasure, 6),
            )
        ],
        "n_alignment long, n_reference long, n_correct long, "
        "n_faulty long, n_missed long, "
        "precision double, recall double, fmeasure double",
    )


# DuckDB twin: same arithmetic fixture; intersection/complements with
# set semantics (EXCEPT / inner join on the distinct 3-tuples) mirroring
# the operator's distinct + inner/left-anti joins; the F expression is
# written in the operator's evaluation shape 2*p*r/(p+r).
_Q35_SQL = """
WITH al AS (
  SELECT DISTINCT n.n_name AS iri1, r.r_name AS iri2, '=' AS relation
  FROM nation n JOIN region r ON r.r_regionkey = n.n_nationkey % 5
  WHERE n.n_nationkey < 10),
ref AS (
  SELECT DISTINCT n.n_name AS iri1, r.r_name AS iri2, '=' AS relation
  FROM nation n JOIN region r
    ON r.r_regionkey = (n.n_nationkey
                        + CASE WHEN n.n_nationkey >= 4 THEN 1 ELSE 0 END) % 5
  WHERE n.n_nationkey < 8),
counts AS (
  SELECT
    (SELECT count(*) FROM al) AS n_a,
    (SELECT count(*) FROM ref) AS n_r,
    (SELECT count(*) FROM al JOIN ref USING (iri1, iri2, relation)) AS n_c,
    (SELECT count(*) FROM (SELECT * FROM al EXCEPT SELECT * FROM ref)) AS n_f,
    (SELECT count(*) FROM (SELECT * FROM ref EXCEPT SELECT * FROM al)) AS n_m)
SELECT n_a AS n_alignment, n_r AS n_reference, n_c AS n_correct,
       n_f AS n_faulty, n_m AS n_missed,
       round(n_c / n_a, 6) AS precision,
       round(n_c / n_r, 6) AS recall,
       round(2 * (n_c / n_a) * (n_c / n_r)
             / ((n_c / n_a) + (n_c / n_r)), 6) AS fmeasure
FROM counts
"""


def _doc_assets(spark, sf_dir):
    """Deterministic multimodal asset table derived from documents.

    The payload is the ASCII bytes of a repeated md5 hex digest: a true
    ``BinaryType`` column through the Arrow boundary on the Spark side,
    while staying recomputable in the DuckDB oracle (DuckDB's sha256
    accepts VARCHAR only, so payload bytes must equal the UTF-8 of a
    string both engines can build)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit("video"))
        .otherwise(F.lit("image"))
        .alias("modality"),
        F.encode(
            F.repeat(F.md5(F.concat(F.lit("asset:"), F.col("doc_id"))), 4),
            "utf-8",
        ).alias("content"),
        F.struct(
            F.lit("fake").alias("format"),
            (F.pmod("doc_id", F.lit(4)) * 64 + 64).cast("int").alias("width"),
            (F.pmod("doc_id", F.lit(3)) * 64 + 64).cast("int").alias("height"),
            (F.pmod("doc_id", F.lit(5)) * 1000 + 1000)
            .cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )


def q36_multimodal_features(spark, sf_dir):
    """Multimodal feature extraction under the DuckDB hash gate: binary
    payloads through the Arrow-batched ``mapInPandas`` extractor
    (prom_spark/multimodal.py — the sanctioned deterministic stand-in
    for a codec kernel; the Spark-side plumbing, schema, and batch shape
    are the real contract). Features explode to flat rows so the value
    hash covers every array element. No reference analogue — this gates
    the training-data-pipeline extra (SURVEY §2 extras)."""
    from prom_spark.multimodal import extract_features

    feats = extract_features(_doc_assets(spark, sf_dir))
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        F.posexplode("features").alias("feature_idx", "feature"),
    ).select(
        "asset_id",
        "modality",
        "n_bytes",
        "feature_idx",
        F.round("feature", 6).alias("feature"),
    )


# DuckDB twin: recompute the stub decoder in SQL — sha256 over the same
# payload bytes (VARCHAR here, UTF-8-identical to the Spark blob), first
# 8 digest bytes parsed from hex chars, /255.0, round 6.
_Q36_SQL = """
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS modality,
         repeat(md5('asset:' || doc_id), 4) AS payload
  FROM documents),
digests AS (
  SELECT asset_id, modality,
         CAST(length(payload) AS INTEGER) AS n_bytes,
         sha256(payload) AS h
  FROM assets),
idx AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS i)
SELECT d.asset_id, d.modality, d.n_bytes, idx.i AS feature_idx,
       round(((strpos('0123456789abcdef', substr(d.h, 2 * idx.i + 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(d.h, 2 * idx.i + 2, 1)) - 1)
             / 255.0, 6) AS feature
FROM digests d CROSS JOIN idx
"""


def q37_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing under the DuckDB hash gate: the 1:N
    row fan-out through ``mapInPandas`` (one fake frame per second of
    metadata duration, payload chunked deterministically — a real
    demuxer replaces the chunking without touching the plan). Frames are
    hex-projected so the binary payload participates in the value hash."""
    from prom_spark.multimodal import sample_frames

    frames = sample_frames(_doc_assets(spark, sf_dir), every_ms=1000)
    return frames.select(
        "asset_id",
        "frame_idx",
        F.lower(F.hex("frame")).alias("frame_hex"),
        F.length("frame").cast("int").alias("frame_bytes"),
    )


# DuckDB twin: same chunk arithmetic in SQL — n = max(1, duration//1000),
# step = max(1, len//n), frame i = payload[i*step : (i+1)*step]; the
# payload is ASCII so VARCHAR substr positions equal byte offsets.
_Q37_SQL = """
WITH assets AS (
  SELECT doc_id AS asset_id,
         repeat(md5('asset:' || doc_id), 4) AS payload,
         CAST(doc_id % 5 AS INTEGER) * 1000 + 1000 AS duration_ms
  FROM documents
  WHERE doc_id % 3 = 0),
calc AS (
  SELECT asset_id, payload,
         greatest(1, length(payload)
                     // greatest(1, duration_ms // 1000)) AS step,
         greatest(1, duration_ms // 1000) AS n
  FROM assets),
frames AS (
  SELECT asset_id, payload, step,
         CAST(unnest(range(0, n)) AS INTEGER) AS frame_idx
  FROM calc)
SELECT asset_id, frame_idx,
       lower(hex(substr(payload, CAST(frame_idx * step + 1 AS INTEGER),
                        CAST(step AS INTEGER)))) AS frame_hex,
       CAST(step AS INTEGER) AS frame_bytes
FROM frames
"""


def q38_asof_join(spark, sf_dir):
    """Distributed as-of join (operators/temporal.asof_join): every
    click event matched to the user's most recent PRIOR error event —
    the canonical event-alignment primitive (feature lookups, session
    attribution, sensor alignment). One shuffle: union + per-key
    carry-forward window, no range join, no point lookups. Unmatched
    clicks survive with nulls (left-outer semantics). Oracle: DuckDB's
    native ``ASOF LEFT JOIN`` — an independent engine implementation of
    the same semantics, not a re-expression of this plan."""
    from prom_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errs = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        F.col("value").alias("err_value"),
    )
    out = asof_join(clicks, errs, on="user_id", left_ts="ts", right_ts="err_ts")
    return out.select(
        "event_id",
        "user_id",
        "err_id",
        F.round("err_value", 2).alias("err_value"),
        F.round(
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("err_ts").cast("timestamp"))
            )
            / F.lit(1e6),
            6,
        ).alias("age_sec"),
    )


_Q38_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
errs AS (
  SELECT user_id, event_id AS err_id, ts AS err_ts, value AS err_value
  FROM events WHERE event_type = 'error')
SELECT c.event_id, c.user_id, e.err_id,
       round(e.err_value, 2) AS err_value,
       round((epoch_us(c.ts) - epoch_us(e.err_ts)) / 1e6, 6) AS age_sec
FROM clicks c
ASOF LEFT JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.err_ts
"""


def q39_range_join(spark, sf_dir):
    """Bucketed range join (operators/temporal.range_join): events
    joined to the arithmetic maintenance windows containing them —
    40 half-open windows at 9h spacing with lengths 3-15h, so some
    windows OVERLAP (an event can land in two) and later windows reach
    past the event horizon (empty). The operator explodes each window
    to its 6h time buckets and equi-joins on bucket + exact containment
    — no inequality join, no cross product, each match produced exactly
    once. Oracle: the plain inequality join DuckDB can afford at this
    scale."""
    from prom_spark.operators.temporal import range_join

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    w = spark.range(40).select(
        F.col("id").cast("int").alias("window_id"),
        # NTZ literals: the events parquet scans as TIMESTAMP_NTZ and
        # the containment comparison must stay same-typed
        F.expr(
            "timestamp_ntz '2024-01-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, cast(id * 9 as int), 0, 0)"
        ).alias("w_start"),
        F.expr(
            "timestamp_ntz '2024-01-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, "
            "  cast(id * 9 + (id % 5 + 1) * 3 as int), 0, 0)"
        ).alias("w_end"),
    )
    out = range_join(
        e, w, point_ts="ts", start_col="w_start", end_col="w_end",
        bucket_width_sec=6 * 3600,
    )
    return out.select(
        "window_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


_Q39_SQL = """
WITH w AS (
  SELECT CAST(i AS INTEGER) AS window_id,
         TIMESTAMP '2024-01-01' + CAST(i AS INTEGER) * INTERVAL 9 HOUR
           AS w_start,
         TIMESTAMP '2024-01-01'
           + CAST(i * 9 + (i % 5 + 1) * 3 AS INTEGER) * INTERVAL 1 HOUR
           AS w_end
  FROM unnest(range(0, 40)) t(i))
SELECT w.window_id, e.event_id, e.event_type, epoch_us(e.ts) AS ts_us
FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
"""


def q40_time_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution rollup
    (operators/rollup.time_rollup): events aggregated per event_type at
    1 min / 1 h / 1 d. Only the finest level touches raw rows; coarser
    levels re-aggregate the finer aggregate (sum of sums, count of
    counts) and the finest shuffle is planned once (ReusedExchange —
    pinned in tests/test_rollup.py), so the raw table is scanned
    exactly once for the whole ladder. Decimal sums keep the
    aggregation associative, so partial-agg order cannot drift from the
    oracle's sequential sums. Oracle: three independent GROUP BYs over
    the raw table (it never re-aggregates — recomputation is the
    independent check)."""
    from prom_spark.operators.rollup import time_rollup

    e = _t(spark, sf_dir, "events")
    out = time_rollup(
        e, ts_col="ts", dims=["event_type"], value_col="value",
        resolutions_sec=[60, 3600, 86400],
    )
    # every numeric column leaves as DECIMAL or integer — r4's driver run
    # flagged this query hash-only (irreproducible locally) and the one
    # plausible mechanism was canonicalization of the round(double, 2)
    # min/max alongside the decimal sum; with no raw double in the output
    # there is nothing left for a float formatter to disagree about
    return out.select(
        "resolution_sec",
        "bucket_start",
        "event_type",
        "n",
        F.col("sum_value").cast("decimal(38,6)").alias("sum_value"),
        F.round("min_value", 2).cast("decimal(12,2)").alias("min_value"),
        F.round("max_value", 2).cast("decimal(12,2)").alias("max_value"),
    )


_Q40_SQL = """
WITH lv AS (SELECT unnest([60, 3600, 86400]) AS res)
SELECT CAST(lv.res AS INTEGER) AS resolution_sec,
       -- epoch() is DOUBLE and DuckDB's // does NOT floor doubles;
       -- epoch_us is BIGINT so // is true integer division
       CAST(epoch_us(e.ts) // 1000000 // lv.res * lv.res AS BIGINT)
         AS bucket_start,
       e.event_type,
       count(*) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(27, 6))) AS DECIMAL(38, 6))
         AS sum_value,
       CAST(round(min(e.value), 2) AS DECIMAL(12, 2)) AS min_value,
       CAST(round(max(e.value), 2) AS DECIMAL(12, 2)) AS max_value
FROM events e CROSS JOIN lv
GROUP BY 1, 2, 3
"""


_CMS_DEPTH, _CMS_WIDTH = 4, 128


def q41_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators/sketch): frequencies
    of (event_type, user_id) pairs estimated from a 4×128-cell sketch —
    a fixed-size summary whose build is one map-side-combinable
    aggregation and whose estimates are a broadcast join — with the
    exact counts alongside, top-20 by estimate. The md5-derived hash
    family makes every counter bit-reproducible in the oracle (same
    nibble arithmetic as the SimHash twin), so the hash gate covers the
    sketch itself, not just the ranking."""
    from prom_spark.operators.sketch import cms_estimate, count_min_sketch

    e = _t(spark, sf_dir, "events").select(
        F.concat("event_type", F.lit(":"), F.col("user_id").cast("string")).alias(
            "k"
        )
    )
    sketch = count_min_sketch(e, "k", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    est = cms_estimate(sketch, e, "k", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = e.groupBy("k").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.orderBy(F.desc("est"), F.asc("k"))
    return (
        est.join(exact, on="k")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("rk", "k", "est", "n_exact")
    )


# DuckDB twin: the identical md5 hash family via nibble arithmetic
# (strpos over the hex alphabet — the q15/q36 pattern), sketch and
# estimates recomputed from raw events.
_Q41_SQL = f"""
WITH keys AS (
  SELECT event_type || ':' || user_id AS k FROM events),
cells AS (
  SELECT g.i AS row,
         ((strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 1, 1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 2, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 3, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 4, 1)) - 1))
           % {_CMS_WIDTH} AS bucket
  FROM keys CROSS JOIN range(0, {_CMS_DEPTH}) g(i)),
sketch AS (
  SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
probes AS (SELECT DISTINCT k FROM keys),
lookups AS (
  SELECT k, g.i AS row,
         ((strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 1, 1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 2, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 3, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(g.i || ':' || k), 4, 1)) - 1))
           % {_CMS_WIDTH} AS bucket
  FROM probes CROSS JOIN range(0, {_CMS_DEPTH}) g(i)),
est AS (
  SELECT k, min(coalesce(s.cnt, 0)) AS est
  FROM lookups l LEFT JOIN sketch s USING (row, bucket) GROUP BY k),
exact AS (SELECT k, count(*) AS n_exact FROM keys GROUP BY k)
SELECT rk, k, est, n_exact FROM (
  SELECT e.k, e.est, x.n_exact,
         row_number() OVER (ORDER BY e.est DESC, e.k ASC) AS rk
  FROM est e JOIN exact x USING (k))
WHERE rk <= 20
"""


def _md5_int_sql(preimage_sql: str, nibbles: int) -> str:
    """DuckDB expression for the integer value of the first ``nibbles``
    hex chars of md5(preimage) — the portable twin of
    ``conv(substring(md5(x), 1, n), 16, 10)`` (the q41 nibble pattern,
    generated instead of hand-written)."""
    terms = [
        f"(strpos('0123456789abcdef', substr(md5({preimage_sql}), {j + 1}, 1)) - 1)"
        f" * {16 ** (nibbles - 1 - j)}"
        for j in range(nibbles)
    ]
    return "(" + "\n         + ".join(terms) + ")"


_STRAT_CAP = 100


def q42_stratified_sample(spark, sf_dir):
    """Deterministic stratified downsample (operators/sampling): the
    documents table rebalanced to ~100 docs per language by a portable
    content hash — the training-data-mix primitive. One tiny
    per-stratum count agg broadcast back onto the stream and a codegen
    filter; the corpus itself is never shuffled, and the kept row set
    is a pure function of the data (resume/repartition/rerun-stable),
    which the oracle twin checks row-for-row."""
    from prom_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, strata_cols=["lang"], id_col="doc_id", cap=_STRAT_CAP
    ).select("doc_id", "lang", "source")


_Q42_SQL = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN counts c ON d.lang IS NOT DISTINCT FROM c.lang
WHERE c.n <= {_STRAT_CAP}
   OR {_md5_int_sql("'s42:' || d.doc_id", 8)} * c.n
      < {_STRAT_CAP} * 4294967296
"""


_PR_DAMPING, _PR_ITERS = 0.85, 5


def q43_event_pagerank(spark, sf_dir):
    """Weighted PageRank (operators/graph.pagerank) over the
    event-type transition graph: edges are consecutive (prev_type ->
    type) pairs per user (one lag window over the event stream — the
    corpus-sized work), ranks from 5 damped power iterations over the
    aggregated edge table (join->agg loop with lineage checkpoints).
    Intermediate ranks are pinned at round(,12) in BOTH engines, so the
    oracle's chained-CTE twin reproduces the iteration exactly, not
    approximately."""
    from prom_spark.operators.graph import pagerank

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.select(
            "user_id", "ts", "event_id",
            F.col("event_type").alias("dst"),
            F.lag("event_type").over(w).alias("src"),
        )
        .filter(F.col("src").isNotNull())
        .select("src", "dst")
    )
    ranks = pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_DAMPING
    )
    n_out = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_out")
    )
    return (
        ranks.join(n_out, on="node", how="left")
        .select(
            F.col("node").alias("event_type"),
            F.round("rank", 6).alias("rank"),
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
        )
    )


def _q43_sql() -> str:
    head = f"""
WITH seq AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src
  FROM events),
e AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
trans AS (
  SELECT e.src, e.dst, e.w / o.ow AS p FROM e JOIN outw o USING (src)),
nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    its = []
    for i in range(1, _PR_ITERS + 1):
        its.append(f""",
r{i} AS (
  SELECT n.node,
         round((1.0 - {_PR_DAMPING}) / nn.n
               + {_PR_DAMPING} * coalesce(s.c, 0.0), 12) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT t.dst AS node, sum(r.rank * t.p) AS c
    FROM trans t JOIN r{i - 1} r ON r.node = t.src GROUP BY 1
  ) s USING (node))""")
    tail = f"""
SELECT r.node AS event_type, round(r.rank, 6) AS rank,
       coalesce(x.n_out, 0) AS n_out
FROM r{_PR_ITERS} r
LEFT JOIN (SELECT src AS node, count(*) AS n_out
           FROM seq WHERE src IS NOT NULL GROUP BY 1) x USING (node)"""
    return head + "".join(its) + tail


_BASKET_MIN_SUPPORT = 2
_BASKET_MAX_ITEMS = 64


def q44_basket_triangles(spark, sf_dir):
    """Degree-oriented triangle counting (operators/graph
    .triangle_counts) over the market-basket graph: parts are linked
    when they ship together in >= 2 orders (the standard support
    threshold — co-occurrence mining keeps only statistically
    meaningful edges, and it is what bounds the edge set at corpus
    scale: one shared order is noise, the thresholded graph grows like
    repeated-pair volume, not like pair volume). The operator orients
    each edge from its (degree, id)-smaller endpoint, so wedge
    generation is bounded by sqrt-degree and hub nodes cannot blow up
    the join — the shape that survives power-law graphs. Oracle: an
    INDEPENDENT formulation (ordered 3-way edge self-join x<y<z), not
    a re-expression of the oriented plan."""
    from prom_spark.operators.graph import cooccurrence_edges, triangle_counts

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # per-order item cap (capped pair-gen, round-5 item #4): TPC-H
    # baskets hold <= 7 items so the cap never binds here, but a single
    # mega-basket at corpus scale would otherwise emit k² pairs in one
    # task; the cap rule is mirrored in the oracle twin's QUALIFY
    pairs = cooccurrence_edges(
        li, "o", "p",
        min_support=_BASKET_MIN_SUPPORT,
        max_items_per_group=_BASKET_MAX_ITEMS,
    )
    return triangle_counts(pairs).select(
        F.col("node").alias("partkey"), "degree", "triangles", "clustering"
    )


_Q44_SQL = f"""
WITH li AS (
  SELECT o, p FROM (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
  QUALIFY row_number() OVER (PARTITION BY o ORDER BY p) <= {_BASKET_MAX_ITEMS}),
e AS (
  SELECT a, b FROM (
    SELECT x.p AS a, y.p AS b, count(*) AS c
    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2)
  WHERE c >= {_BASKET_MIN_SUPPORT}),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
pn AS (
  SELECT node, count(*) AS triangles
  FROM (SELECT x AS node FROM t UNION ALL SELECT y FROM t
        UNION ALL SELECT z FROM t) GROUP BY 1)
SELECT d.node AS partkey, d.degree,
       coalesce(pn.triangles, 0) AS triangles,
       CASE WHEN d.degree < 2 THEN 0.0
            ELSE round((2.0 * coalesce(pn.triangles, 0))
                       / (d.degree * (d.degree - 1.0)), 6)
       END AS clustering
FROM deg d LEFT JOIN pn USING (node)
"""


_KMV_K = 64


def q45_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch (operators/sketch.kmv_distinct):
    distinct users per event_type estimated from the 64 smallest
    portable 48-bit hashes — the mergeable cardinality estimator whose
    per-group top-k is salted two-stage (no single-task group sorts).
    Exact distinct counts alongside; the hash gate covers the sketch
    itself (kth hash, estimate) because the oracle recomputes the
    identical hash family."""
    from prom_spark.operators.sketch import kmv_distinct

    e = _t(spark, sf_dir, "events")
    sk = kmv_distinct(e, key_col="user_id", group_cols=["event_type"], k=_KMV_K)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return sk.join(exact, on="event_type").select(
        "event_type", "kth_hash", "n_k", "est_distinct", "n_exact"
    )


_Q45_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         {_md5_int_sql("'kmv:' || user_id", 12)} AS h
  FROM events),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashes),
sk AS (
  SELECT event_type, max(h) AS kth_hash,
         CAST(count(*) AS INTEGER) AS n_k,
         round(CASE WHEN count(*) < {_KMV_K}
                    THEN CAST(count(*) AS DOUBLE)
                    ELSE CAST({_KMV_K - 1} * 281474976710656 AS DOUBLE)
                         / max(h) END, 6) AS est_distinct
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY 1)
SELECT s.event_type, s.kth_hash, s.n_k, s.est_distinct, x.n_exact
FROM sk s
JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1) x USING (event_type)
"""


_BLOOM_M, _BLOOM_K = 4096, 3


def q46_bloom_filter_join(spark, sf_dir):
    """Bloom-filter semi-join reduction (operators/sketch.bloom_*):
    orders pre-filtered by a 4096-bit Bloom filter built over ASIA
    customers — the runtime-filter pattern that prunes a fact stream
    map-side before an expensive join. The output keeps the filter's
    false positives VISIBLE (is_member = false rows): both engines
    build bit-identical filters from the same md5 family, so even the
    false-positive set hash-matches. No false negatives by
    construction (tested)."""
    from prom_spark.operators.sketch import bloom_bits, bloom_passing_keys

    cust = (
        _t(spark, sf_dir, "customer")
        .join(_t(spark, sf_dir, "nation"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(_t(spark, sf_dir, "region"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    bits = bloom_bits(cust, "c_custkey", m=_BLOOM_M, k=_BLOOM_K)
    orders = _t(spark, sf_dir, "orders")
    passing = bloom_passing_keys(
        bits,
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        m=_BLOOM_M,
        k=_BLOOM_K,
    ).select(F.col("c_custkey").alias("o_custkey"))
    return (
        orders.join(passing, on="o_custkey")
        .join(cust, orders["o_custkey"] == cust["c_custkey"], how="left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("c_custkey").isNotNull().alias("is_member"),
        )
    )


def _q46_sql() -> str:
    pos = [
        "({expr} % {m})".format(
            expr=_md5_int_sql("'bf%d:' || k" % i, 4), m=_BLOOM_M
        )
        for i in range(_BLOOM_K)
    ]
    probe_pos = [p.replace("|| k", "|| o_custkey") for p in pos]
    return f"""
WITH cust AS (
  SELECT c_custkey AS k FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'),
bits AS (
  SELECT DISTINCT unnest([{", ".join(pos)}]) AS pos FROM cust),
probe AS (
  -- NOT DISTINCT over (key, pos): a key whose hash family collides
  -- into the same position must count that position once per hash,
  -- matching the Spark side's exploded hit count
  SELECT o_custkey,
         unnest([{", ".join(probe_pos)}]) AS pos
  FROM (SELECT DISTINCT o_custkey FROM orders)),
passing AS (
  SELECT o_custkey FROM probe JOIN bits USING (pos)
  GROUP BY 1 HAVING count(*) = {_BLOOM_K})
SELECT o.o_orderkey, o.o_custkey, (c.k IS NOT NULL) AS is_member
FROM orders o
JOIN passing USING (o_custkey)
LEFT JOIN cust c ON o.o_custkey = c.k
"""


def q47_exact_quantiles(spark, sf_dir):
    """Distributed exact quantiles: p50/p90/p99 of event value per
    event_type via Spark's interpolating ``percentile`` aggregate (one
    hash-partitioned agg; the buffer holds a value->count map per
    group). Oracle: DuckDB's ``quantile_cont`` — an independent
    implementation of the same (n-1)*q linear interpolation. Scale
    note: at 10^12 rows with high-cardinality value domains the exact
    buffer grows with distinct values — the scale path is
    approx_percentile (t-digest, mergeable) or a binned histogram; the
    exact form is the correctness anchor those are tested against."""
    e = _t(spark, sf_dir, "events")
    qs = e.groupBy("event_type").agg(
        F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    return qs.select(
        "event_type",
        F.round(F.col("q")[0], 6).alias("p50"),
        F.round(F.col("q")[1], 6).alias("p90"),
        F.round(F.col("q")[2], 6).alias("p99"),
        "n",
    )


_Q47_SQL = """
SELECT event_type,
       round(q[1], 6) AS p50, round(q[2], 6) AS p90, round(q[3], 6) AS p99,
       n
FROM (SELECT event_type,
             quantile_cont(value, [0.5, 0.9, 0.99]) AS q,
             count(*) AS n
      FROM events GROUP BY 1)
"""


_TFIDF_TOPK = 3


def q48_tfidf_topterms(spark, sf_dir):
    """TF-IDF top terms per document — the classic corpus-weighting
    primitive (sklearn-style smoothed idf: ln((1+N)/(1+df)) + 1).
    Term frequencies are one corpus shuffle on (doc, term); document
    frequencies are vocabulary-bounded and broadcast back; the per-doc
    top-k is a window over the already-aggregated tf stream. Ranking
    ties are broken on the ROUNDED score then term, so both engines
    produce the identical top-3 even where ln() differs in the last
    ulp."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), on="term").withColumn(
        "score",
        F.round(
            F.col("tf")
            * (F.log((1.0 + n_docs) / (1.0 + F.col("df"))) + 1.0),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_TOPK)
        .select("doc_id", "rk", "term", "score", "tf", "df")
    )


_Q48_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * (ln((1.0 + nn.n) / (1.0 + dfreq.df)) + 1.0), 6)
           AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN nn)
SELECT doc_id, rk, term, score, tf, df
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rk
      FROM scored)
WHERE rk <= {_TFIDF_TOPK}
"""


_PMI_MIN_COUNT, _PMI_TOPK = 5, 100


def q49_pmi_collocations(spark, sf_dir):
    """Corpus collocations by pointwise mutual information over
    adjacent token bigrams: PMI = ln(c(a,b) * T / (c(a,*) * c(*,b))),
    positional marginals from the bigram stream itself. Every count is
    an exact integer and every shuffle key is vocabulary-bounded (the
    bigram aggregation is map-side combinable), so the corpus-sized
    work is one scan + one shuffle regardless of scale. Integer
    products stay under 2^53 before the double division, so both
    engines compute the identical ratio."""
    d = _t(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower("text")), r"\s+")
    bigrams = (
        d.select(
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("bg")
        )
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    )
    pair = bigrams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    left = pair.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    right = pair.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    total = pair.agg(F.sum("c_ab")).collect()[0][0]
    scored = (
        pair.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(left), on="a")
        .join(F.broadcast(right), on="b")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c_ab") * F.lit(int(total))).cast("double")
                    / (F.col("c_a") * F.col("c_b")).cast("double")
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PMI_TOPK)
        .select("rk", "a", "b", "c_ab", "pmi")
    )


_Q49_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents),
bg AS (
  -- list comprehension instead of a lateral generate_series (DuckDB
  -- cannot parameterize the table function with a column) — q14 idiom
  SELECT unnest([{{'a': t[i], 'b': t[i + 1]}}
                 for i in generate_series(1, len(t) - 1)]) AS s
  FROM toks),
pair AS (SELECT s.a AS a, s.b AS b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
lft AS (SELECT a, sum(c_ab) AS c_a FROM pair GROUP BY 1),
rgt AS (SELECT b, sum(c_ab) AS c_b FROM pair GROUP BY 1),
tot AS (SELECT sum(c_ab) AS t FROM pair),
scored AS (
  SELECT p.a, p.b, p.c_ab,
         round(ln(CAST(p.c_ab * tot.t AS DOUBLE)
                  / CAST(l.c_a * r.c_b AS DOUBLE)), 6) AS pmi
  FROM pair p JOIN lft l USING (a) JOIN rgt r USING (b) CROSS JOIN tot
  WHERE p.c_ab >= {_PMI_MIN_COUNT})
SELECT rk, a, b, c_ab, pmi
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, a ASC, b ASC) AS rk
      FROM scored)
WHERE rk <= {_PMI_TOPK}
"""


def q50_funnel(spark, sf_dir):
    """Ordered-funnel analysis: per user, the earliest view, the
    earliest click AFTER that view, the earliest purchase AFTER that
    click — the event-sequence primitive behind conversion metrics.
    Three chained min-aggregations, every shuffle keyed by user_id so
    a co-partitioned layout reuses one exchange; no window over raw
    events, no collect. Timestamps reduce to epoch micros (exact
    integers in both engines)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("us").alias("view_us")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("us") > F.col("view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("click_us"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("us") > F.col("click_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    return (
        v.join(c, on="user_id", how="left")
        .join(p, on="user_id", how="left")
        .select(
            "user_id",
            "view_us",
            "click_us",
            "purchase_us",
            (
                F.lit(1)
                + F.when(F.col("click_us").isNotNull(), 1).otherwise(0)
                + F.when(F.col("purchase_us").isNotNull(), 1).otherwise(0)
            ).alias("stage"),
        )
    )


_Q50_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (
  SELECT user_id, min(us) AS view_us FROM e
  WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, min(us) AS click_us
  FROM e JOIN v USING (user_id)
  WHERE event_type = 'click' AND us > view_us GROUP BY 1),
p AS (
  SELECT e.user_id, min(us) AS purchase_us
  FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND us > click_us GROUP BY 1)
SELECT v.user_id, v.view_us, c.click_us, p.purchase_us,
       1 + (CASE WHEN c.click_us IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN p.purchase_us IS NOT NULL THEN 1 ELSE 0 END) AS stage
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


_POSTINGS_K = 20


def q51_inverted_index(spark, sf_dir):
    """Inverted-index construction: per term, document frequency and
    the first 20 postings (doc_ids ascending, comma-joined) — the
    IR-side primitive for corpus search/dedup tooling. The posting-list
    truncation runs through operators/topk.salted_topk, so a stopword
    term that appears in most of a 10^12-doc corpus cannot serialize
    the stage into one task; df comes from the full distinct stream
    (map-side combinable count)."""
    from prom_spark.operators.topk import salted_topk

    d = _t(spark, sf_dir, "documents")
    posting = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).distinct()
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = salted_topk(posting, ["term"], "doc_id", k=_POSTINGS_K)
    # a scalar string, not an array: results are compared as sorted
    # frames, and list cells are unhashable there
    postings = top.groupBy("term").agg(
        F.array_join(
            F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
        ).alias("postings")
    )
    return dfreq.join(postings, on="term").select("term", "df", "postings")


_Q51_SQL = f"""
WITH posting AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
ranked AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM posting)
SELECT term, df, postings
FROM (SELECT term, count(*) AS df FROM posting GROUP BY 1) d
JOIN (SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings
      FROM ranked WHERE rn <= {_POSTINGS_K} GROUP BY 1) p USING (term)
"""


_WSAMPLE_K = 10


def q52_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (priority / exponential-
    clock sampling, Efraimidis-Spirakis): per event_type, draw 10
    events with probability proportional to ``value`` by ranking on
    key = -ln(u)/w with u a deterministic portable hash of the event
    id — the weighted analogue of q42's threshold sampling, one pass,
    mergeable (the top-k of a union is the top-k of the per-part
    top-ks), rerun/repartition-stable. The top-k runs through the
    skew-safe salted_topk. Both engines compute the identical key from
    the identical 48-bit hash integer."""
    from prom_spark.operators.topk import salted_topk

    e = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("event_id").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    keyed = e.select(
        "event_type",
        "event_id",
        F.round("value", 2).alias("value"),
        (-F.log((h + F.lit(1)).cast("double") / F.lit(float(1 << 48)))
         / F.col("value")).alias("_key"),
    )
    return salted_topk(keyed, ["event_type"], "_key", k=_WSAMPLE_K).select(
        "event_type", "event_id", "value"
    )


_Q52_SQL = f"""
WITH keyed AS (
  SELECT event_type, event_id, round(value, 2) AS value,
         -ln(CAST({_md5_int_sql("'ws:' || event_id", 12)} + 1 AS DOUBLE)
             / 281474976710656.0) / value AS key
  FROM events WHERE value > 0),
ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY key) AS rn
  FROM keyed)
SELECT event_type, event_id, value FROM ranked WHERE rn <= {_WSAMPLE_K}
"""


_MA_WINDOW = 5


def q53_rolling_average(spark, sf_dir):
    """(Driver-gated through the merged q21_user_activity entry.)
    Per-user rolling statistics: moving average of the last 5 event
    values (ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) over the
    (ts, event_id)-ordered stream — the time-series smoothing
    primitive. The window partitions by user (bounded per-user
    history; no global sort), the sum is an exact DECIMAL so partial-
    aggregation order cannot drift, and the average is one double
    division of identical operands in both engines."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_MA_WINDOW - 1), 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(
            F.sum(F.col("value").cast("decimal(27,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("moving_avg"),
    )


_Q53_SQL = f"""
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_window,
       round(CAST(sum(CAST(value AS DECIMAL(27, 6))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {_MA_WINDOW - 1} PRECEDING AND CURRENT ROW)
"""


def q54_retention(spark, sf_dir):
    """(Driver-gated through the merged q21_user_activity entry.)
    Daily new-vs-returning retention: per day, active users, users
    whose FIRST event falls on that day, and the returning remainder —
    the cohort primitive behind every retention curve. Two
    aggregations: per-user first-seen (map-side combinable min), then
    one distinct-count per day with the broadcast first-seen join
    deciding new vs returning. All integers."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        e.distinct()
        .join(F.broadcast(first), on="user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("n_new"),
            F.sum(
                F.when(F.col("day") != F.col("first_day"), 1).otherwise(0)
            ).alias("n_returning"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "n_active",
            "n_new",
            "n_returning",
        )
    )


_Q54_SQL = """
WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1)
SELECT CAST(day AS VARCHAR) AS day,
       count(*) AS n_active,
       sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS n_new,
       sum(CASE WHEN day != first_day THEN 1 ELSE 0 END) AS n_returning
FROM e JOIN first USING (user_id)
GROUP BY 1
"""


def q21_user_activity(spark, sf_dir):
    """Per-user event-stream analytics under ONE driver gate: q21
    gap-based sessionization, q53 rolling averages, and q54 retention
    cohorts, tagged by section and unioned on a common
    (section, k1, k2, n1, n2, x) schema — every value of all three
    results is carried (nothing dropped for the packaging):

      sessions:  k1=user_id, n1=n_sessions, n2=n_events
      rolling:   k1=user_id, k2=event_id, n1=ts_us, n2=n_window,
                 x=moving_avg
      retention: k1=day, n1=n_active, n2=n_new, x=n_returning

    The three plans are unchanged; only the gate packaging merged so
    the driver's 50-entry correctness window reaches every implemented
    operator (round-5 item #2)."""
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    sess = q21_sessionize(spark, sf_dir).select(
        F.lit("sessions").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        nl.alias("k2"),
        F.col("n_sessions").cast("long").alias("n1"),
        F.col("n_events").cast("long").alias("n2"),
        nd.alias("x"),
    )
    roll = q53_rolling_average(spark, sf_dir).select(
        F.lit("rolling").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        F.col("event_id").cast("long").alias("k2"),
        F.col("ts_us").cast("long").alias("n1"),
        F.col("n_window").cast("long").alias("n2"),
        F.col("moving_avg").alias("x"),
    )
    ret = q54_retention(spark, sf_dir).select(
        F.lit("retention").alias("section"),
        F.col("day").alias("k1"),
        nl.alias("k2"),
        F.col("n_active").cast("long").alias("n1"),
        F.col("n_new").cast("long").alias("n2"),
        F.col("n_returning").cast("double").alias("x"),
    )
    return sess.unionByName(roll).unionByName(ret)


_Q21_ACTIVITY_SQL = f"""
SELECT 'sessions' AS section, CAST(user_id AS VARCHAR) AS k1,
       CAST(NULL AS BIGINT) AS k2, n_sessions AS n1,
       CAST(n_events AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS x
FROM ({_Q21_SQL})
UNION ALL
SELECT 'rolling', CAST(user_id AS VARCHAR), CAST(event_id AS BIGINT),
       ts_us, CAST(n_window AS BIGINT), moving_avg
FROM ({_Q53_SQL})
UNION ALL
SELECT 'retention', day, CAST(NULL AS BIGINT), CAST(n_active AS BIGINT),
       CAST(n_new AS BIGINT), CAST(n_returning AS DOUBLE)
FROM ({_Q54_SQL})
"""


def q55_translate(spark, sf_dir):
    """N3/N4 two-stage translation (functions/translate): documents
    run through the domain-dictionary broadcast stage, with an
    Arrow-batched per-executor-cached model fallback for dictionary
    misses (deterministic stand-in kernel — the MarianMT slot; see the
    module docstring). Reference: the dict-hit-else-model chain at
    src/translate_onto.py:98-112. The oracle re-expresses BOTH stages
    as token-map joins, so dict-over-model precedence and the
    order-preserving re-assembly sit under the hash gate."""
    from prom_spark.functions.translate import translate_texts

    d = _t(spark, sf_dir, "documents")
    return translate_texts(
        d, text_col="text", key_cols=["doc_id", "lang"]
    ).select("doc_id", "lang", "translated")


def _q55_sql() -> str:
    from prom_spark.functions.translate import DOMAIN_DICT, MODEL_LEXICON

    dict_vals = ", ".join(f"('{k}', '{v}')" for k, v in sorted(DOMAIN_DICT.items()))
    lex_vals = ", ".join(f"('{k}', '{v}')" for k, v in sorted(MODEL_LEXICON.items()))
    return f"""
WITH dict(tok, tr) AS (VALUES {dict_vals}),
lex(tok, tr) AS (VALUES {lex_vals}),
toks AS (
  SELECT doc_id, lang,
         unnest([{{'p': i, 'tok': t[i]}}
                 for i in generate_series(1, len(t))]) AS s
  FROM (SELECT doc_id, lang,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents)),
tr AS (
  SELECT doc_id, lang, s.p AS p,
         coalesce(d.tr, l.tr, s.tok) AS tr
  FROM toks
  LEFT JOIN dict d ON d.tok = s.tok
  LEFT JOIN lex l ON l.tok = s.tok)
SELECT doc_id, lang, string_agg(tr, ' ' ORDER BY p) AS translated
FROM tr GROUP BY 1, 2
"""


def q56_spellcheck(spark, sf_dir):
    """N6 spellcheck as a distributed stage (operators/spellcheck):
    corpus tokens are deterministically corrupted (last char dropped
    from every distinct token of length >= 4 — the q28 self-test
    pattern, since the synthetic corpus has no real typos) and then
    corrected against the corpus vocabulary via the symmetric-delete
    blocked join: equi-join on delete-1 key sets (complete for edit
    distance 1 by construction), codegen levenshtein verify, best
    correction by (corpus freq desc, term asc). Reference analogue:
    row-at-a-time spelchek.correct, src/translate_onto.py:156-158.
    Oracle: the NAIVE unblocked distance join — an independent
    formulation the blocking must exactly reproduce."""
    from prom_spark.operators.spellcheck import spell_correct

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    probes = (
        vocab.filter(F.length("term") >= 4)
        .select(
            F.substring(F.col("term"), 1, F.length("term") - 1).alias("token")
        )
        .distinct()
    )
    return spell_correct(probes, vocab).select(
        "token", "corrected", "distance", "freq"
    )


_Q56_SQL = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
vocab AS (SELECT term, count(*) AS freq FROM toks GROUP BY 1),
probes AS (
  SELECT DISTINCT substr(term, 1, len(term) - 1) AS token
  FROM vocab WHERE len(term) >= 4),
cand AS (
  SELECT p.token, v.term AS corrected,
         levenshtein(p.token, v.term) AS distance, v.freq
  FROM probes p CROSS JOIN vocab v
  WHERE levenshtein(p.token, v.term) <= 1)
SELECT token, corrected, distance, freq
FROM (SELECT *, row_number() OVER (PARTITION BY token
                                   ORDER BY freq DESC, corrected ASC) AS rn
      FROM cand)
WHERE rn = 1
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_lineitem_agg": q01_lineitem_agg,
        "q02_region_revenue": q02_region_revenue,
        "q03_window_topk": q03_window_topk,
        "q04_set_ops": q04_set_ops,
        "q06_string_sim": q06_string_sim,
        "q07_greedy_round1": q07_greedy_round1,
        "q08_interval_overlap": q08_interval_overlap,
        "q09_dedup_window": q09_dedup_window,
        "q11_label_centroids": q11_label_centroids,
        "q12_knn": q12_knn,
        "q13_minhash_lsh": q13_minhash_lsh,
        "q14_ngram_jaccard": q14_ngram_jaccard,
        "q15_simhash": q15_simhash,
        "q16_doc_profile": q16_doc_profile,
        "q18_entity_link": q18_entity_link,
        "q19_fuzzy_link": q19_fuzzy_link,
        "q21_user_activity": q21_user_activity,
        "q22_doc_components": q22_doc_components,
        "q23_greedy_full": q23_greedy_full,
        "q24_mention_grams": q24_mention_grams,
        "q25_entity_linking": q25_entity_linking,
        "q26_lexical_align": q26_lexical_align,
        "q27_structural_blend": q27_structural_blend,
        "q28_embedding_near_dupes": q28_embedding_near_dupes,
        "q29_simhash_near_dupes": q29_simhash_near_dupes,
        "q30_abox_match": q30_abox_match,
        "q31_trigram_langid": q31_trigram_langid,
        "q32_lsh_ann_topk": q32_lsh_ann_topk,
        "q33_optimal_selection": q33_optimal_selection,
        "q34_consistency_conflicts": q34_consistency_conflicts,
        "q35_quality_assess": q35_quality_assess,
        "q36_multimodal_features": q36_multimodal_features,
        "q37_frame_sample": q37_frame_sample,
        "q38_asof_join": q38_asof_join,
        "q39_range_join": q39_range_join,
        "q40_time_rollup": q40_time_rollup,
        "q41_cms_heavy_hitters": q41_cms_heavy_hitters,
        "q42_stratified_sample": q42_stratified_sample,
        "q43_event_pagerank": q43_event_pagerank,
        "q44_basket_triangles": q44_basket_triangles,
        "q45_kmv_distinct": q45_kmv_distinct,
        "q46_bloom_filter_join": q46_bloom_filter_join,
        "q47_exact_quantiles": q47_exact_quantiles,
        "q48_tfidf_topterms": q48_tfidf_topterms,
        "q49_pmi_collocations": q49_pmi_collocations,
        "q50_funnel": q50_funnel,
        "q51_inverted_index": q51_inverted_index,
        "q52_weighted_sample": q52_weighted_sample,
        "q55_translate": q55_translate,
        "q56_spellcheck": q56_spellcheck,
    }


def oracle_sql() -> dict[str, str]:
    from prom_spark.oracle_golden import (
        q26_sql as _q26_sql,
        q27_sql as _q27_sql,
        q30_sql as _q30_sql,
    )

    return {
        "q01_lineitem_agg": _Q01_SQL,
        "q02_region_revenue": _Q02_SQL,
        "q03_window_topk": _Q03_SQL,
        "q04_set_ops": _Q04_SET_SQL,
        "q06_string_sim": _Q06_SQL,
        "q07_greedy_round1": _Q07_SQL,
        "q08_interval_overlap": _Q08_SQL,
        "q09_dedup_window": _Q09_SQL,
        "q11_label_centroids": _Q11_SQL,
        "q12_knn": _Q12_SQL,
        "q13_minhash_lsh": _Q13_SQL,
        "q14_ngram_jaccard": _Q14_SQL,
        "q15_simhash": _Q15_SQL,
        "q16_doc_profile": _Q16_PROFILE_SQL,
        "q18_entity_link": _Q18_SQL,
        "q19_fuzzy_link": _Q19_SQL,
        "q21_user_activity": _Q21_ACTIVITY_SQL,
        "q22_doc_components": _Q22_SQL,
        "q23_greedy_full": _Q23_SQL,
        "q24_mention_grams": _Q24_SQL,
        "q25_entity_linking": _Q25_SQL,
        "q26_lexical_align": _q26_sql(),
        "q27_structural_blend": _q27_sql(),
        "q28_embedding_near_dupes": _q28_sql(),
        "q29_simhash_near_dupes": _Q29_SQL,
        "q30_abox_match": _q30_sql(),
        "q31_trigram_langid": _Q31_SQL,
        "q32_lsh_ann_topk": _q32_sql(),
        "q33_optimal_selection": _Q33_SQL,
        "q34_consistency_conflicts": _Q34_SQL,
        "q35_quality_assess": _Q35_SQL,
        "q36_multimodal_features": _Q36_SQL,
        "q37_frame_sample": _Q37_SQL,
        "q38_asof_join": _Q38_SQL,
        "q39_range_join": _Q39_SQL,
        "q40_time_rollup": _Q40_SQL,
        "q41_cms_heavy_hitters": _Q41_SQL,
        "q42_stratified_sample": _Q42_SQL,
        "q43_event_pagerank": _q43_sql(),
        "q44_basket_triangles": _Q44_SQL,
        "q45_kmv_distinct": _Q45_SQL,
        "q46_bloom_filter_join": _q46_sql(),
        "q47_exact_quantiles": _Q47_SQL,
        "q48_tfidf_topterms": _Q48_SQL,
        "q49_pmi_collocations": _Q49_SQL,
        "q50_funnel": _Q50_SQL,
        "q51_inverted_index": _Q51_SQL,
        "q52_weighted_sample": _Q52_SQL,
        "q55_translate": _q55_sql(),
        "q56_spellcheck": _Q56_SQL,
    }
