"""End-to-end KG construction over transcripts (north_star pipeline).

Stages (each a checkpointed table via sinks.StageStore; resumable):

  ingest        transcripts, bucketed by hash(conv_id)
  grams         distinct candidate grams (unigrams + first-token-blocked
                bigrams, pipeline.mentions) — the fuzzy scoring input
  fuzzy_scores  (gram, entity_id, rating) per distinct non-alias gram:
                rating = w_s * levenshtein + w_e * embedding-cosine,
                blocked on (first char, word count)
  candidates    gram occurrences matching an alias or a fuzzy-scored gram
                (kind 'm'), plus predicate-token occurrences (kind 'p')
  entity_map    canonicalization: alias-overlap clusters ->
                entity_id -> canonical_id (one driver pass for a
                broadcast-sized dictionary, connected components beyond)
  triples_raw   one exchange: candidates scored against the dictionary and
                the fuzzy table, best link per span, per-turn predicate
                patterns + co-occurrence + cross-turn `follows`, written
                bucketed by hash(conv_id), sorted within partitions by
                (conv_id, turn_idx)
  triples       canonical (subj, pred, obj, conv_id, turn_idx): a
                metadata-only alias of triples_raw

One linking + extraction plan serves batch and stream: both score
candidates with ``_score_candidates``, select links inside per-turn
arrays (``_per_turn_select``) and extract triples from those arrays
(``extract_triples``). A stream micro-batch (streaming.pipeline) has no
checkpointed stages: it scores its own mention stream through
``_scored_mentions``, which flat ``link_mentions`` (the q25 oracle
chain) shares.

The reference analogue is Prom.run_all (reference src/prom.py:201-213):
lexical/structural matching -> selection -> link ontology -> merged
concept clusters; here matching is mention⋈dictionary scoring, the link
ontology is the triple table, and cluster merging is connected
components.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from prom_spark.config import DEFAULT_CONFIG, PipelineConfig
from prom_spark.datagen import PREDICATES
from prom_spark.functions.embedding import hash_embedding
from prom_spark.functions.similarity import cosine_sim, norm_levenshtein
from prom_spark.operators.connected_components import connected_components
from prom_spark.operators.salted_join import salted_join
from prom_spark.operators.selection import best_candidate_per_left_agg
from prom_spark.pipeline.mentions import (
    detect_matching_mentions,
    detect_mentions,
    distinct_grams,
)
from prom_spark.sinks import StageStore, source_fingerprint


def _bucket_layout(
    df: DataFrame,
    n_buckets: int,
    keep_sub: bool = False,
    n_rows: int | None = None,
    min_bucket_rows: int | None = None,
) -> DataFrame:
    """Add the hash(conv_id) ``bucket`` column and repartition for a
    balanced partitioned write.

    ``repartition(n_buckets, "bucket")`` hash-routes the n distinct
    bucket values into n partitions — balls-in-bins leaves ~1/e of the
    write tasks empty and piles 2-3 buckets onto others, a straggler
    that caps write-stage scaling exactly when buckets ≈ cores (measured
    0.11-0.22 efficiency 4→16c on the triples write; at the ~10^5
    buckets of a 100 TB layout the skew washes out, but local runs and
    small executor pools hit it). Sub-splitting the shuffle key by
    hash(conv_id) mod k — k sized so composite keys ≫ cores — bounds
    the longest task at ~1/cores of the data; the writer's
    ``partitionBy("bucket")`` still routes every row to its bucket
    directory, so the published layout is unchanged (each bucket dir
    just holds ~k sorted files instead of 1).

    The sub-split is gated on DATA SIZE, not cores: ``n_rows`` (caller's
    row-count estimate for ``df``) must put at least ``min_bucket_rows``
    rows in each bucket before the composite key engages. A straggler
    only costs when a single bucket's write is long enough to dominate a
    task wave; below the threshold the split pays k× the per-file
    overhead (open/footer/commit per tiny file) for nothing — measured
    ~6s (~22%) of the sf0.1 flagship wall when the split ran
    unconditionally at 120k turns, vs the 0.11→~0.8 write-stage
    efficiency it buys at 3.6M turns. ``n_rows=None`` (unknown) keeps
    ``split=1``: the sub-split is a large-input optimization callers opt
    into with evidence (``build_kg`` passes stage-metric or source row
    counts).
    """
    if min_bucket_rows is None:
        min_bucket_rows = DEFAULT_CONFIG.sub_split_min_bucket_rows
    cores = df.sparkSession.sparkContext.defaultParallelism
    split = max(1, -(-8 * cores // n_buckets))
    if n_rows is None or n_rows < min_bucket_rows * n_buckets:
        split = 1
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )
    if split == 1:
        return out.repartition(n_buckets, "bucket")
    out = out.withColumn(
        "_sub", F.pmod(F.xxhash64("conv_id", F.lit(1)), F.lit(split)).cast("int")
    ).repartition(n_buckets * split, "bucket", "_sub")
    # keep_sub: downstream window operators include (bucket, _sub) in
    # their partition keys so Catalyst recognizes this exchange as
    # satisfying their distribution (both are functions of conv_id, so
    # the window frames are still exactly per-conversation) — the layout
    # shuffle then doubles as the window shuffle and no second exchange
    # is planned.
    return out if keep_sub else out.drop("_sub")


@dataclass
class KgResult:
    triples: DataFrame
    entity_canonical: DataFrame
    store: StageStore


# one scored link candidate (or a selected link) per row
_LINK_COLS = ("conv_id", "turn_idx", "gram", "start", "end", "entity_id", "rating")


def _match_keys(dict_slim: DataFrame, fuzzy_scores: DataFrame) -> DataFrame:
    """Distinct grams that can link: every alias plus every fuzzy-scored
    gram — the key set that reduces an occurrence stream to its
    candidates."""
    return (
        dict_slim.select(F.col("alias").alias("gram"))
        .unionByName(fuzzy_scores.select("gram"))
        .distinct()
    )


def _semi_reduce(
    occurrences: DataFrame,
    keys: DataFrame,
    n_dict: int,
    cfg: PipelineConfig,
    hot_keys=None,
) -> DataFrame:
    """Occurrences whose gram is in ``keys`` (one ``gram`` column).

    The occurrence stream is mostly grams that link to nothing, and
    shuffling them into a salted join only to drop them wastes the
    exchange. A broadcast left_semi on the key STRINGS (tiny next to
    the dictionary rows, whose embedding payloads are what break the
    broadcast budget) drops them map-side. Above
    ``alias_broadcast_limit`` dictionary rows even the bare string set
    exceeds the broadcast budget, and the reduction becomes a salted
    shuffle semi-join (strings only — no payload rides this exchange).
    """
    if n_dict <= cfg.alias_broadcast_limit:
        return occurrences.join(F.broadcast(keys), on="gram", how="left_semi")
    return salted_join(
        occurrences, keys, key="gram",
        n_salts=cfg.hot_key_salts,
        hot_factor=cfg.hot_key_factor,
        hot_keys=hot_keys,
        detect_sample_fraction=cfg.hot_key_sample,
        how="left_semi",
    )


def _fuzzy_rejoin(
    occurrences: DataFrame,
    fuzzy_scores: DataFrame,
    cfg: PipelineConfig,
    broadcast: bool,
    hot_keys=None,
) -> DataFrame:
    """Join the bounded (gram, entity_id, rating) fuzzy score table back
    onto the occurrence stream.

    ``broadcast=True`` (dictionary-broadcast regime, or the caller KNOWS
    the score table fits the budget — build_kg checks the checkpoint row
    count) removes the shuffle outright. ``broadcast=False`` is the
    beyond-broadcast path: fuzzy_scores is dictionary-bounded (distinct
    grams × variants above threshold) but dictionary-bounded is GBs for
    a 10^8-alias dictionary (docs/SCALE.md), and GBs do not broadcast —
    and the join key is the raw ``gram``, the same Zipf-hot key as the
    exact join, so it routes through the identical salted shuffle design
    rather than piling hot grams into single reducers.
    """
    if broadcast:
        joined = occurrences.join(F.broadcast(fuzzy_scores), on="gram")
    else:
        joined = salted_join(
            occurrences, fuzzy_scores, key="gram",
            n_salts=cfg.hot_key_salts,
            hot_factor=cfg.hot_key_factor,
            hot_keys=hot_keys,
            detect_sample_fraction=cfg.hot_key_sample,
        )
    return joined.select(*_LINK_COLS)


def _fuzzy_scores(
    distinct_grams: DataFrame,
    dict_slim: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    broadcast_dict: bool = True,
) -> DataFrame:
    """(gram, entity_id, rating) fuzzy link scores for DISTINCT grams.

    Scoring per distinct gram instead of per occurrence cuts the
    levenshtein+embedding work by the mention duplication factor — with
    Zipf-skewed mentions that factor is enormous. Blocking: (first char,
    word count). Gram embeddings are PRE-projected as a column: inlining
    the embedding expression inside cosine_sim would re-evaluate the md5
    transform once per cosine term with no codegen CSE across
    higher-order functions — measured 60x slower.

    ``broadcast_dict=False`` is the path for dictionaries beyond the
    broadcast budget (the regime where the exact join salts): the block
    join becomes a replicated-fragment shuffle join. A plain shuffle on
    (_blk, _nw) would be its own skew disaster — the blocking key has
    only ~10^2-10^3 distinct values — so the gram side gets a
    deterministic fragment id from xxhash64(gram) and the dictionary
    side is replicated across all fragments: every block spreads over
    ``hot_key_salts * 4`` reducers at the cost of bounded dictionary
    duplication through the exchange (dictionary rows, not corpus rows).
    """
    dg = (
        distinct_grams
        .join(dict_slim, F.col("gram") == dict_slim["alias"], "left_anti")
        .withColumn("gram_emb", hash_embedding(F.col("gram")))
        .withColumn("_blk", F.substring("gram", 1, 1))
        .withColumn("_nw", F.size(F.split("gram", " ")))
    )
    d_blocked = dict_slim.withColumn("_blk", F.substring("alias", 1, 1)).withColumn(
        "_nw", F.size(F.split("alias", " "))
    )
    if broadcast_dict:
        blocked = dg.join(F.broadcast(d_blocked), on=["_blk", "_nw"])
    else:
        n_frag = cfg.hot_key_salts * 4
        dg_f = dg.withColumn(
            "_frag", F.pmod(F.xxhash64("gram"), F.lit(n_frag)).cast("int")
        )
        d_f = d_blocked.withColumn(
            "_frag", F.explode(F.sequence(F.lit(0), F.lit(n_frag - 1)))
        )
        blocked = dg_f.join(d_f, on=["_blk", "_nw", "_frag"]).drop("_frag")
    return (
        blocked
        .withColumn("_lev", norm_levenshtein("gram", "alias"))
        .filter(F.col("_lev") >= 0.5)
        .withColumn(
            "rating",
            F.lit(cfg.link_string_weight) * F.col("_lev")
            + F.lit(cfg.link_embedding_weight)
            * F.greatest(F.lit(0.0), cosine_sim("gram_emb", "embedding")),
        )
        .filter(F.col("rating") > cfg.link_threshold)
        .select("gram", "entity_id", "rating")
    )


def _score_candidates(
    candidates: DataFrame,
    dict_slim: DataFrame,
    fuzzy_scores: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    use_salting: bool = True,
    hot_keys=None,
    fuzzy_rows: int | None = None,
) -> DataFrame:
    """Scored link candidates (conv_id, turn_idx, gram, start, end,
    entity_id, rating) for an occurrence stream — the only scorer; flat
    linking (``link_mentions``) and ``build_kg``'s per-turn linking
    both run it.

    Exact path: equi-join gram == alias, rating 1.0. A dictionary under
    the broadcast budget (``use_salting=False``) broadcasts — no
    shuffle at all, skew irrelevant, strictly better than any salting
    scheme. A larger one takes the salted shuffle join, where Zipf-hot
    grams would otherwise pile into single reducers; callers reduce the
    stream first (``_semi_reduce``) so only rows that link ride it.

    Fuzzy path: ``fuzzy_scores`` holds the (gram, entity_id, rating)
    ensemble scores of the DISTINCT non-alias grams (``_fuzzy_scores``),
    re-joined onto the occurrences by ``_fuzzy_rejoin``: broadcast in
    the broadcast regime, or whenever ``fuzzy_rows`` (``build_kg`` reads
    it free from the checkpoint metrics) measures under the budget;
    salted otherwise.
    """
    d = dict_slim.withColumnRenamed("alias", "gram")
    if use_salting:
        exact_raw = salted_join(
            candidates, d, key="gram",
            n_salts=cfg.hot_key_salts,
            hot_factor=cfg.hot_key_factor,
            hot_keys=hot_keys,
            detect_sample_fraction=cfg.hot_key_sample,
        )
    else:
        exact_raw = candidates.join(F.broadcast(d), on="gram")
    exact = exact_raw.withColumn("rating", F.lit(1.0)).select(*_LINK_COLS)
    fuzzy = _fuzzy_rejoin(
        candidates, fuzzy_scores, cfg,
        broadcast=(not use_salting)
        or (fuzzy_rows is not None and fuzzy_rows <= cfg.dict_broadcast_limit),
        hot_keys=hot_keys,
    )
    return exact.unionByName(fuzzy)


def _scored_mentions(
    mentions: DataFrame,
    dictionary: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    use_salting: bool | None = None,
    hot_keys=None,
) -> DataFrame:
    """Scored link candidates (``_score_candidates`` rows) for a raw
    mention stream — the linking half that flat ``link_mentions`` and
    each stream micro-batch share. ``use_salting=None`` picks the join
    regime from the dictionary size (see ``_score_candidates``).

    The distinct mention grams are fuzzy-scored first; in the salted
    regime the stream is then semi-reduced to linkable grams."""
    dict_slim = dictionary.select("alias", "entity_id", "embedding")
    # dictionaries are entity catalogs: row count is a fine proxy for
    # the regime; a forced broadcast needs no count
    n_dict = None if use_salting is False else dict_slim.count()
    if use_salting is None:
        use_salting = n_dict > cfg.dict_broadcast_limit
    # above the dictionary broadcast budget the scoring join must not
    # broadcast the embedding payloads either
    fuzzy_scores = _fuzzy_scores(
        mentions.select("gram").distinct(), dict_slim, cfg,
        broadcast_dict=not use_salting,
    )
    if use_salting:
        mentions = _semi_reduce(
            mentions, _match_keys(dict_slim, fuzzy_scores), n_dict, cfg, hot_keys
        )
    return _score_candidates(
        mentions, dict_slim, fuzzy_scores, cfg, use_salting, hot_keys
    )


def link_mentions(
    mentions: DataFrame,
    dictionary: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    use_salting: bool | None = None,
    hot_keys=None,
) -> DataFrame:
    """Entity-link scoring + per-span selection, flat output
    (north_star stage 3) — the q25 oracle chain.

    Selection: best candidate per mention span via single-shuffle
    aggregation (map-side combine collapses hot spans pre-exchange).
    Within a span key the gram is fixed, so selection = max rating,
    ties to the smallest entity_id.
    """
    return best_candidate_per_left_agg(
        _scored_mentions(mentions, dictionary, cfg, use_salting, hot_keys),
        key_cols=["conv_id", "turn_idx", "start", "end"],
        payload_cols=["entity_id", "gram"],
        threshold=cfg.link_threshold,
    ).select(*_LINK_COLS)


# per-turn entity struct carried into predicate extraction; field names
# (ts, te) avoid the ANSI-reserved `end`
_ENT_STRUCT = "struct<ts:int,te:int,entity_id:string>"
_CAND_STRUCT = "struct<ts:int,te:int,nr:double,entity_id:string>"
_PRED_STRUCT = "struct<p:int,tok:string>"


def _per_turn_select(
    cand: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    entity_map: DataFrame | None = None,
    *,
    preds: DataFrame,
    layout: dict | None = None,
) -> DataFrame:
    """Scored candidate stream (``_score_candidates``) -> (conv_id,
    turn_idx, ents, preds) in one shuffle — the per-turn linking of
    ``build_kg`` and of every stream micro-batch.

    Canonical ids are applied on the candidate stream (broadcast join)
    before grouping; per-span selection happens INSIDE the per-turn
    array: keep-first over the span-sorted candidates, which under the
    sort key (ts, te, -rating, entity_id) is the flat path's
    max-rating / min-entity choice (``link_mentions``; equivalence is
    tested). No per-mention link table is ever materialized or
    re-shuffled.

    ``layout``: optional ``_bucket_layout`` kwargs
    (``n_buckets``/``n_rows``/``min_bucket_rows``). When given, the
    grouping shuffle IS the published bucket layout: the candidate rows
    are repartitioned on (bucket[, _sub]) — both functions of conv_id —
    before the per-turn aggregation, and those columns join the grouping
    keys, so Catalyst recognizes the repartition as satisfying the
    aggregation's distribution (subset rule) and plans no second
    exchange. The output carries bucket[, _sub], which downstream
    ``extract_triples`` threads into the `follows` window's partition
    keys the same way — one exchange serves the grouping, the window,
    and the final bucketed write.

    ``preds``: the predicate-occurrence stream (conv_id, turn_idx, gram,
    start — the candidate scan's kind='p' rows, or
    ``detect_matching_mentions(..., [], predicates=PREDICATES)``).
    Predicate positions ride the SAME grouping shuffle as extra
    null-padded rows and the output gains a ``preds`` array column — so
    triple extraction downstream needs no join back to the transcript
    text at all. Turns whose candidates all fall below the rating
    threshold are dropped even when they carry predicates (nothing to
    extract from a turn with no linked entities)."""
    cand = cand.filter(F.col("rating") > cfg.link_threshold)
    if entity_map is not None:
        cand = (
            cand.join(F.broadcast(entity_map), on="entity_id", how="left")
            .withColumn("entity_id", F.coalesce("canonical_id", "entity_id"))
            .drop("canonical_id")
        )
    cand_struct = F.struct(
        F.col("start").alias("ts"),
        F.col("end").alias("te"),
        (-F.col("rating")).alias("nr"),
        "entity_id",
    )
    # keep-first per (ts, te) over the sorted array == per-span best
    ents_expr = F.expr(
        f"""
        transform(
          filter(transform(_cands, (c, i) ->
            IF(i = 0 OR c.ts != _cands[i - 1].ts OR c.te != _cands[i - 1].te,
               c, NULL)),
            x -> x IS NOT NULL),
          c -> CAST(struct(c.ts AS ts, c.te AS te, c.entity_id AS entity_id)
                    AS {_ENT_STRUCT}))
        """
    ).alias("ents")
    rows = cand.select(
        "conv_id",
        "turn_idx",
        cand_struct.alias("_c"),
        F.lit(None).cast(_PRED_STRUCT).alias("_p"),
    ).unionByName(
        preds.select(
            "conv_id",
            "turn_idx",
            F.lit(None).cast(_CAND_STRUCT).alias("_c"),
            F.struct(
                F.col("start").alias("p"), F.col("gram").alias("tok")
            ).alias("_p"),
        )
    )
    if layout is not None:
        rows = _bucket_layout(rows, keep_sub=True, **layout)
    keys = [c for c in ("bucket", "_sub") if c in rows.columns]
    per_turn = (
        rows.groupBy(*keys, "conv_id", "turn_idx")
        .agg(
            F.array_sort(F.collect_list("_c")).alias("_cands"),
            F.array_sort(F.collect_list("_p")).alias("preds"),
        )
        .filter(F.size("_cands") > 0)
    )
    return per_turn.select(*keys, "conv_id", "turn_idx", ents_expr, "preds")


def extract_triples(linked: DataFrame) -> DataFrame:
    """Predicate extraction (north_star stage 4) over per-turn ``ents``
    and ``preds`` arrays (``_per_turn_select`` output — ``build_kg``'s
    triple stage and every stream micro-batch).

    Predicate positions were detected in the same scan as the mentions
    and grouped in the same shuffle, so there is NO transcript re-scan
    and NO join. Everything per-turn — the `<subj> <pred> [the] <obj>`
    adjacency pattern, co-occurrence pairs, the turn-subject pick — is
    higher-order array expressions inside codegen; turn arrays are
    bounded by turn length, so per-group work is O(turn tokens), never
    O(corpus).

    Cross-turn `follows` edges use a (conv_id)-partitioned window over
    the per-turn rows, ordered by turn_idx — the stable-ordering
    invariant O4, at one row per turn instead of one per mention. If
    the frame carries ``bucket``/``_sub`` layout columns (from
    ``_bucket_layout(keep_sub=True)``), the window partitions on them
    too, so the layout exchange upstream satisfies the window's
    distribution and the whole stage plans as a single exchange:
    repartition -> sort -> array ops -> explode -> write.

    Entity ids arrive canonical (``_per_turn_select(entity_map=...)``).
    Because every emitted triple carries (conv_id, turn_idx), duplicates
    can only arise within a single turn — so the per-turn
    ``array_distinct`` is a complete dedup, and the stage needs no
    global ``distinct`` (a full corpus-wide exchange at 10^12 scale).
    """
    carry = [c for c in ("bucket", "_sub") if c in linked.columns]
    per_turn = linked.select("conv_id", "turn_idx", *carry, "ents", "preds")

    # within-turn: subj ends at p-1, obj starts at p+1 (or p+2 skipping a
    # determiner). array_distinct is the whole dedup: duplicates can only
    # arise within a turn.
    within_arr = F.expr(
        """
        array_distinct(flatten(transform(preds, pr ->
          flatten(transform(filter(ents, s -> s.te = pr.p - 1), s ->
            transform(filter(ents, o -> o.ts = pr.p + 1 OR o.ts = pr.p + 2), o ->
              struct(s.entity_id AS subj, pr.tok AS pred, o.entity_id AS obj)))))))
        """
    )
    # co-occurrence: ordered pairs from the distinct sorted entity set
    cooc_arr = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y ->
            struct(x AS subj, 'co_occurs' AS pred, y AS obj))))
        """
    )
    # cross-turn `follows` (consecutive turns' subjects, subject = earliest
    # linked mention) rides the SAME per-turn frame: a lag window on
    # conv_id appends at most one extra triple to each turn's array, and a
    # single explode emits everything. One plan, no union, no recomputed
    # subtree — a union of separately-derived branches would execute the
    # groupBy+join twice.
    w_conv = Window.partitionBy(*carry, "conv_id").orderBy("turn_idx")
    _EMPTY = "array<struct<subj:string,pred:string,obj:string>>"
    per_turn = (
        per_turn.withColumn(
            "ids",
            F.array_sort(F.array_distinct(F.expr("transform(ents, e -> e.entity_id)"))),
        )
        .withColumn("_subj", F.element_at("ents", 1)["entity_id"])
        .withColumn("_prev", F.lag("_subj").over(w_conv))
        .withColumn(
            "turn_triples",
            F.concat(
                F.coalesce(within_arr, F.array().cast(_EMPTY)),
                cooc_arr,
                F.when(
                    F.col("_prev").isNotNull(),
                    F.array(
                        F.struct(
                            F.col("_subj").alias("subj"),
                            F.lit("follows").alias("pred"),
                            F.col("_prev").alias("obj"),
                        )
                    ),
                ).otherwise(F.array().cast(_EMPTY)),
            ),
        )
    )
    return per_turn.select(
        "conv_id",
        "turn_idx",
        *carry,
        F.explode("turn_triples").alias("t"),
    ).select("conv_id", "turn_idx", *carry, "t.subj", "t.pred", "t.obj")


def _min_label_components(alias_codes, entity_codes, n_entities: int):
    """Component label per entity code: the smallest entity code sharing
    an alias chain with it. Vectorized min-label propagation to a
    fixpoint — min over each alias's entities, min back over each
    entity's aliases, then pointer jumping (label of the label) — so
    the round count tracks the log of the chain length, not its rows."""
    import numpy as np

    label = np.arange(n_entities)
    if len(alias_codes) == 0:
        return label
    n_alias = int(alias_codes.max()) + 1
    while True:
        per_alias = np.full(n_alias, n_entities)
        np.minimum.at(per_alias, alias_codes, label[entity_codes])
        nxt = label.copy()
        np.minimum.at(nxt, entity_codes, per_alias[alias_codes])
        jumped = nxt[nxt]
        while not np.array_equal(jumped, nxt):
            nxt, jumped = jumped, jumped[jumped]
        if np.array_equal(nxt, label):
            return label
        label = nxt


def _entity_map_local(dictionary: DataFrame) -> DataFrame:
    """Driver-side entity map for a broadcast-sized dictionary: one
    collect, numpy label propagation, an Arrow-backed one-partition
    local frame. Same relation as the connected-components path,
    including its (null, null) row for a null entity_id."""
    import pandas as pd

    pdf = dictionary.select(
        F.col("alias").cast("string"), F.col("entity_id").cast("string")
    ).toPandas()
    # sorted factorization: the smallest code is the smallest id, so a
    # component's min label IS its canonical id; nulls code to -1
    ent, ids = pd.factorize(pdf["entity_id"], sort=True)
    alias, _ = pd.factorize(pdf["alias"])
    edge = (ent >= 0) & (alias >= 0)
    label = _min_label_components(alias[edge], ent[edge], len(ids))
    out = pd.DataFrame({"entity_id": ids, "canonical_id": ids[label]})
    if (ent < 0).any():
        out.loc[len(out)] = [None, None]
    spark = dictionary.sparkSession
    # pandas -> Arrow batches on the driver (no Python worker); the
    # slices follow default parallelism, so coalesce to the one file
    # the stage checkpoint writes
    return spark.createDataFrame(
        out, "entity_id string, canonical_id string"
    ).coalesce(1)


def canonicalize_entities(
    dictionary: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    n_dict: int | None = None,
) -> DataFrame:
    """Entity merge (north_star stage 6): entities sharing a surface form
    are the same concept; connected components over alias-overlap edges,
    canonical id = min entity_id of the cluster.

    Two regimes, gated like every other dictionary join in ``build_kg``:
    a dictionary of ``n_dict <= cfg.dict_broadcast_limit`` rows is
    already broadcast to every executor, so it is collected once and
    resolved on the driver (``_entity_map_local``: two Spark jobs
    including the count); a larger one runs the distributed
    large-star/small-star loop (``connected_components``), the only
    path that scales to 10^8-alias catalogs. ``n_dict`` is the caller's
    row count of ``dictionary``; None counts it here."""
    if n_dict is None:
        n_dict = dictionary.count()
    if n_dict <= cfg.dict_broadcast_limit:
        return _entity_map_local(dictionary)
    a = dictionary.select("alias", F.col("entity_id").alias("e1"))
    b = dictionary.select("alias", F.col("entity_id").alias("e2"))
    edges = (
        a.join(b, on="alias")
        .filter(F.col("e1") < F.col("e2"))
        .select(F.col("e1").alias("src"), F.col("e2").alias("dst"))
        .distinct()
    )
    cc = connected_components(edges, "src", "dst")
    all_entities = dictionary.select("entity_id").distinct()
    return (
        all_entities.join(cc, all_entities.entity_id == cc.node, "left")
        .select(
            "entity_id",
            F.coalesce(F.col("component"), F.col("entity_id")).alias("canonical_id"),
        )
    )


def transcripts_from_documents(
    documents: DataFrame, tokens_per_turn: int = 20
) -> DataFrame:
    """Re-shape a documents table into the transcript schema (input_hint):
    each document becomes one conversation, its text chunked into turns.
    Used by the flagship entry over the driver's testdata."""
    toks = documents.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.col("doc_id"),
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos", "tok"),
    )
    turns = (
        toks.withColumn("turn_idx", (F.col("pos") / tokens_per_turn).cast("int"))
        .groupBy("conv_id", "doc_id", "turn_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("text")
        )
    )
    roles = F.array(F.lit("user"), F.lit("assistant"))
    return turns.select(
        "conv_id",
        "turn_idx",
        F.element_at(roles, (F.col("turn_idx") % 2 + 1).cast("int")).alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        (F.lit(1735689600) + F.col("doc_id") * 1000 + F.col("turn_idx")).cast("timestamp").alias("ts"),
    )


def term_dictionary(spark, terms: list[str]) -> DataFrame:
    """Minimal entity dictionary from a fixed term list (flagship entry)."""
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(t,) for t in terms], 1), "alias string"
    )
    return df.select(
        "alias",
        F.concat(F.lit("E_"), F.col("alias")).alias("entity_id"),
        F.col("alias").alias("canonical"),
        hash_embedding(F.col("alias")).alias("embedding"),
    )


def build_kg(
    spark,
    transcripts: DataFrame,
    dictionary: DataFrame,
    base_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    resume: bool = True,
    use_salting: bool | None = None,
    hot_keys=None,
    n_transcript_rows: int | None = None,
) -> KgResult:
    """Run (or resume) the full pipeline, checkpointing every stage.

    ``use_salting=None`` (the default) picks the join strategy from the
    dictionary size, exactly like ``link_mentions``: a dictionary
    under ``cfg.dict_broadcast_limit`` broadcasts (no shuffle, skew
    irrelevant — strictly better than any salting scheme), a larger one
    takes the salted shuffle path. Pass True/False to force a path
    (tests; skew-path benchmarking).

    ``hot_keys``: optional precomputed hot-alias list (or one-column
    DataFrame) for the salted mention⋈dictionary join — skips the
    detection count pass over the mention stream when the hot set is
    known a priori.

    ``n_transcript_rows``: optional row count of ``transcripts`` when
    the caller knows it (bench harnesses, metadata-counted sources) —
    gates the ingest layout's sub-split without a count job; when None
    a pruned count runs inside the ingest stage (skipped entirely on
    resume).

    Checkpoint validity: every stage's recorded ``inputs`` list (which
    includes a config-derived plan-gate tag for the candidate stage and
    a metadata-only ``source_fingerprint`` of the transcripts and the
    dictionary) and required output columns are checked against the
    checkpoint's stored metrics on resume; a stage whose inputs or
    schema no longer match, or one of whose input stages was rewritten
    in this run, is recomputed rather than silently reused or crashed
    into mid-plan.
    """
    store = StageStore(spark, base_dir)
    source = source_fingerprint(transcripts)
    dict_source = source_fingerprint(dictionary)
    n_buckets = cfg.n_output_buckets

    # NOT pre-tokenized: storing a `_toks` array column at ingest was
    # measured (1.2M turns, 4c+16c) — the +50% stage-table write cost
    # exceeds what the three downstream scans save, because their wall
    # is the struct explode + aggregation, not the tokenizer regex.
    # The mention scanners still reuse a `_toks` column when a caller
    # provides one.
    ingest = store.get_or_compute(
        "ingest",
        # n_rows gates the write-balancing sub-split on data size: the
        # caller-provided count when known, else one pruned count job
        # (cheap next to the full ingest write, and only paid when the
        # stage actually computes)
        lambda: _bucket_layout(
            transcripts,
            n_buckets,
            n_rows=(
                n_transcript_rows
                if n_transcript_rows is not None
                else transcripts.count()
            ),
            min_bucket_rows=cfg.sub_split_min_bucket_rows,
        ),
        resume=resume,
        inputs=[source],
        partition_by=["bucket"],
        sort_within_partitions=["conv_id", "turn_idx"],
    )

    # bigram candidates are generated only where a multiword alias could
    # match (first-token blocking against the dictionary) — without this
    # the mention stream doubles with rows that exist only to miss the
    # dictionary join. Fuzzy recall on bigrams is then bounded by the
    # exact first token, the standard blocking trade-off.
    first_tokens = [
        r.w
        for r in dictionary.filter(F.size(F.split("alias", " ")) > 1)
        .select(F.split("alias", " ").getItem(0).alias("w"))
        .distinct()
        .collect()
    ]
    # the raw mention stream (every unigram/blocked-bigram occurrence) is
    # the pipeline's LARGEST intermediate — ~65x the turn count — and at
    # 10^12 turns persisting it dominates stage I/O. It is therefore
    # never materialized: the checkpoints are its two small projections,
    #   grams       distinct candidate grams (bounded by vocabulary^2,
    #               corpus-independent — the fuzzy scoring input)
    #   candidates  occurrences whose gram matches the dictionary
    #               exactly or fuzzily (bounded by true mention volume)
    # at the price of one extra tokenize pass over the turn text (cheap,
    # codegen) instead of a full write+read of the mention stream.
    mentions_full = detect_mentions(ingest, bigram_first_tokens=first_tokens)
    dict_slim = dictionary.select("alias", "entity_id", "embedding")

    grams = store.get_or_compute(
        "grams",
        # strings-only distinct with per-turn array_distinct pre-dedup —
        # equivalence-tested against mentions_full.select("gram").distinct()
        lambda: distinct_grams(ingest, bigram_first_tokens=first_tokens),
        resume=resume,
        inputs=["ingest"],
    )
    # one count job over the dictionary (an entity catalog, cheap next to
    # any corpus pass) gates every broadcast below and the entity map's
    # driver pass; a forced broadcast skips it (the entity map then counts)
    dict_rows = None if use_salting is False else dict_slim.count()
    if use_salting is None:
        use_salting = dict_rows > cfg.dict_broadcast_limit
    n_dict = dict_rows or 0
    fuzzy_scores = store.get_or_compute(
        "fuzzy_scores",
        lambda: _fuzzy_scores(
            grams, dict_slim, cfg,
            broadcast_dict=not (use_salting and n_dict > cfg.dict_broadcast_limit),
        ),
        resume=resume,
        inputs=["grams", dict_source],
    )
    match_keys = _match_keys(dict_slim, fuzzy_scores)
    # predicate occurrences ride the candidate stage (kind='p') so the
    # triple-extraction stage needs no second pass over the corpus text;
    # the inline plan detects them in the SAME scan, the explode plans
    # union a dedicated narrow scan.
    #
    # The plan choice (inline keyset vs broadcast vs salted semi-join)
    # is deferred INTO the thunk: it needs a driver collect over
    # match_keys, which a resume run that reuses the checkpoint must
    # never pay. For checkpoint invalidation the inputs list carries the
    # CONFIG knobs the choice is a pure function of (given the same
    # upstream data, which the other inputs entries pin) — so a gate
    # change between runs recomputes instead of silently reusing a
    # checkpoint built under a different plan.
    gate_tag = (
        f"gate:inline={cfg.inline_keyset_limit}"
        f",alias_bc={cfg.alias_broadcast_limit},salted={bool(use_salting)}"
    )

    def _candidates():
        # three escalating plans, all emitting the identical relation:
        #   keyset <= inline_keyset_limit   membership probed INSIDE the
        #       token arrays before any explode (detect_matching_mentions
        #       — only true mentions ever become rows; measured 2.5x
        #       faster than exploding the full stream into a semi-join)
        #   otherwise                       explode + _semi_reduce
        #       (broadcast semi-join, salted above alias_broadcast_limit)
        if n_dict <= cfg.alias_broadcast_limit:
            inline_keys = [
                r.gram
                for r in match_keys.limit(cfg.inline_keyset_limit + 1).collect()
            ]
            if len(inline_keys) <= cfg.inline_keyset_limit:
                return detect_matching_mentions(
                    ingest, inline_keys, predicates=PREDICATES
                )
        return _semi_reduce(
            mentions_full, match_keys, n_dict, cfg, hot_keys
        ).withColumn("kind", F.lit("m")).unionByName(
            detect_matching_mentions(ingest, [], predicates=PREDICATES)
        )

    candidates = store.get_or_compute(
        "candidates",
        _candidates,
        resume=resume,
        inputs=["ingest", "fuzzy_scores", dict_source, gate_tag],
        require_cols=["kind"],
    )

    entity_map = store.get_or_compute(
        "entity_map",
        lambda: canonicalize_entities(dictionary, cfg, n_dict=dict_rows),
        resume=resume,
        inputs=[dict_source],
    )

    # per-turn linking and triple extraction share ONE plan and ONE
    # shuffle exchange: scored candidates (all map-side broadcast joins
    # over the candidates checkpoint) are repartitioned once into the
    # published bucket layout, and that exchange serves the per-turn
    # grouping, the cross-turn `follows` window AND the final bucketed
    # write (layout= threads bucket[,_sub] into the grouping and window
    # keys — subset rule, see _per_turn_select). The per-turn linked
    # table is never materialized: checkpointing it would cost a full
    # corpus-sized write + re-read + second exchange to resume a
    # sub-stage (scoring + grouping) that is cheap next to the candidate
    # detection it resumes FROM.
    triples_raw = store.get_or_compute(
        "triples_raw",
        lambda: extract_triples(
            _per_turn_select(
                _score_candidates(
                    candidates.filter(F.col("kind") == "m").drop("kind"),
                    dict_slim, fuzzy_scores, cfg,
                    use_salting=use_salting, hot_keys=hot_keys,
                    # the checkpoint row count is free and refines the
                    # fuzzy re-join: broadcast iff the score table
                    # measures under the budget, salted shuffle otherwise
                    fuzzy_rows=store.metrics("fuzzy_scores")["rows"],
                ),
                cfg,
                entity_map,
                preds=candidates.filter(F.col("kind") == "p"),
                # the ingest checkpoint's recorded row count (= turns,
                # the row grain entering the layout shuffle) gates the
                # write-balancing sub-split for free (no count job)
                layout=dict(
                    n_buckets=n_buckets,
                    n_rows=store.metrics("ingest")["rows"],
                    min_bucket_rows=cfg.sub_split_min_bucket_rows,
                ),
            )
        ).drop("_sub"),
        resume=resume,
        inputs=["candidates", "fuzzy_scores", dict_source, "entity_map"],
        partition_by=["bucket"],
        sort_within_partitions=["conv_id", "turn_idx"],
    )

    # the published triple table IS triples_raw's layout (the extraction
    # shuffle already produces it): the final stage is a metadata-only
    # alias
    triples = store.get_or_alias(
        "triples", "triples_raw", resume=resume,
        inputs=["triples_raw", "entity_map"],
    )
    return KgResult(triples, entity_map, store)
