"""Stage 3 — candidates: fuzzy entity lookup as a blocked join.

Replaces the reference's Elasticsearch round-trips
(/root/reference/lookup/es_lookup.py:27-217) with a candidate-pair-generation
join between the distinct mention set and ``kg_labels``:

1. **Column classification** (C1/C2, annotation_models.py:159-225): entity vs
   literal columns from preprocessing aggregates.
2. **Mention dedupe** (L8, annotation_models.py:242-247): DISTINCT normalized
   mentions — each distinct string is scored once globally.
3. **Blocking join** (replaces ES fuzziness=AUTO retrieval, L3): char-trigram
   keys on both sides (JVM-side `transform`+`explode`, no UDF) unioned with an
   exact-norm fast path; label-side hot grams (df > max_gram_df) are dropped —
   the exact path keeps head surface forms reachable, so hub labels like
   "USA" cannot explode the gram join (explicit skew control; AQE skew-join
   splitting handles residual imbalance).
4. **Length band** (es_lookup.py:207-210): 0.25·len ≤ label_len ≤ 4·len.

Steps 5–8, the reference's per-mention re-scoring loop (es_lookup.py:123-217),
are ONE ``mapInArrow`` pass over the pairs partitioned by mention, scoring each
partition with NumPy group-wise operations:

5. **Fuzzy re-score** (L5, es_lookup.py:123-174): ``fuzzy_pexact_batch``
   (mixed indel/token_sort/token_set + partial-exact bypass) × origin factor.
6. **Adaptive threshold** (L6): fuzzy ≥ max(0.70, best−0.25) per mention.
7. **Final score** (L7): 0.7·fuzzy·origin + 0.1·PR-term + 0.2·lexical of each
   entity's best label. The ES BM25 component is replaced by a deterministic
   IDF-weighted token-overlap score (documented deviation; SURVEY §2.4 L7).
8. **Top-K per mention** (K=20), ties broken on entity.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import bcast, ckpt as _sckpt

from ..functions.similarity import fuzzy_pexact_batch

FUZZY_FACTOR = 0.7          # 1 - PR_FACTOR - LEX_FACTOR (settings.py:41,49)
PR_FACTOR = 0.1
LEX_FACTOR = 0.2
ORIGIN_WEIGHTS = {"LABEL": 1.0, "MAIN_ALIAS": 0.94, "SUB_ALIAS": 0.88}
MIN_FUZZY = 0.70            # settings.py:29
ADAPTIVE_MARGIN = 0.25      # settings.py:30
DEFAULT_K = 20

CONCEPTY = ("UNKNOWN", "PERSON", "ORG", "GPE", "LOC", "EVENT", "FAC", "NORP",
            "LAW", "PRODUCT", "WORK_OF_ART", "LANGUAGE")
DATE_TYPES = ("DATE", "TIME")
NUM_NOUNIT = ("CARDINAL", "PERCENT", "RANGE")
NUM_UNIT = ("DISTANCE", "MASS", "MONEY", "DURATION", "SPEED", "TEMPERATURE",
            "FREQUENCY", "DATA", "POWER", "VOLTAGE", "CURRENT", "AREA",
            "VOLUME")


# ------------------------------------------------------------ column classes
def classify_columns(column_meta: DataFrame, body: DataFrame) -> DataFrame:
    """C1/C2 → (table_id, col_idx, col_class) with col_class ∈
    {entity, date, numeral_unit, numeral, textual, index}.

    Entity columns: concept-typed score>0.5, <50% long cells (>150 chars),
    <50% cells with >3 distinct punctuation marks (annotation_models.py:159-187).
    """
    stats = body.groupBy("table_id", "col_idx").agg(
        F.avg((F.length("cell") > 150).cast("double")).alias("long_ratio"),
        F.avg(
            (
                F.size(
                    F.array_distinct(
                        F.split(F.regexp_replace("cell", r"[\w\s]", ""), "")
                    )
                )
                > 3
            ).cast("double")
        ).alias("punct_ratio"),
    )
    m = column_meta.join(stats, ["table_id", "col_idx"], "left").fillna(
        {"long_ratio": 0.0, "punct_ratio": 0.0}
    )
    is_index = (F.col("col_type") == "ORDINAL") & (F.col("col_idx") == 0)
    is_entity = (
        F.col("col_type").isin(list(CONCEPTY))
        & (F.col("col_type_score") > 0.5)
        & (F.col("long_ratio") < 0.5)
        & (F.col("punct_ratio") < 0.5)
    )
    cls = (
        F.when(is_index, "index")
        .when(is_entity, "entity")
        .when(F.col("col_type").isin(list(DATE_TYPES)) & (F.col("col_type_score") > 0.5), "date")
        .when(F.col("col_type").isin(list(NUM_UNIT)) & (F.col("col_type_score") > 0.5), "numeral_unit")
        .when(F.col("col_type").isin(list(NUM_NOUNIT)) & (F.col("col_type_score") > 0.5), "numeral")
        .otherwise("textual")
    )
    return m.select("table_id", "col_idx", cls.alias("col_class"))


# ------------------------------------------------------------ mentions
def norm_col(c):
    """es_lookup.py:202-204 normalization, JVM-side."""
    return F.lower(F.trim(F.regexp_replace(F.regexp_replace(c, '"', " "), r"\s+", " ")))


def extract_mentions(body: DataFrame, col_classes: DataFrame) -> DataFrame:
    """Cells of entity columns → (table_id, row_idx, col_idx, mention_norm);
    mentions of length ≤1 dropped (annotation_models.py:242-247)."""
    ent = col_classes.where(F.col("col_class") == "entity")
    return (
        body.join(ent, ["table_id", "col_idx"])
        .withColumn("mention_norm", norm_col(F.col("cell")))
        .where(F.length("mention_norm") > 1)
        .select("table_id", "row_idx", "col_idx", "cell", "mention_norm")
    )


# ------------------------------------------------------------ blocking
def _grams(col, n: int = 3):
    """Char n-gram array, JVM-side; short strings fall back to the whole
    string as a single key."""
    return F.when(
        F.length(col) < n, F.array(col)
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - n + 1),
                lambda i: col.substr(i, F.lit(n)),
            )
        )
    )


def token_idf(labels: DataFrame) -> DataFrame:
    """(token, idf) from kg_labels — the deterministic BM25 stand-in corpus
    statistic. Computed once per KG build, broadcast at use."""
    toks = labels.select(
        F.explode(F.split(F.col("label_norm"), r"\s+")).alias("token")
    ).where(F.length("token") > 0)
    n_docs = labels.count()
    return toks.groupBy("token").agg(
        F.log2(F.lit(float(n_docs + 1)) / (F.count(F.lit(1)) + 1)).alias("idf")
    )


def candidate_pairs(
    mentions_distinct: DataFrame,
    labels: DataFrame,
    max_gram_df: int | None = None,
    multi_resolution: bool = False,
    max_candidates_per_mention: int | None = None,
) -> DataFrame:
    """Blocked candidate pairs (mention_norm × entity/label rows), deduped.

    Two paths unioned: exact label_norm equality (covers hot labels even when
    their grams are dropped) and n-gram-key equality with the length band.

    ``multi_resolution`` adds a 6-gram blocking tier alongside the trigrams
    (both under the same label-side df cap). Rationale: the df cap is the
    skew control, but a mention whose EVERY trigram is hot (dense ID-like
    strings — "customer#000000001" corpora) would lose all blocking keys;
    longer grams are exponentially rarer, so the 6-gram tier restores recall
    for exactly those mentions while staying inside the cap. This is the
    standard multi-resolution blocking ladder for skewed surface-form
    corpora at scale.
    """
    m = mentions_distinct.select("mention_norm").distinct()

    # Dictionary-encode label rows (guide §8): every heavy exchange below
    # carries (mention_norm, _lid), and the label attributes are joined back
    # once onto the pruned pairs (shuffling the full string tuple cost 13 of
    # this stage's 15 s at sf0.1). _lid ranks the full attribute tuple, so
    # the top-N tie-break (_lid asc) is deterministic; the single-task window
    # is bounded by the label-index size, and the lazy checkpoint pins one id
    # assignment for all consumers.
    lbl = _sckpt(
        labels.select("entity", "label", "label_norm", "length", "origin", "pr")
        .distinct()
        .withColumn(
            "_lid",
            F.row_number().over(
                Window.orderBy(
                    "entity", "label_norm", "origin", "label", "length", "pr"
                )
            ),
        )
    )
    lbl_n = lbl.select("_lid", "label_norm", "length")

    exact = m.join(lbl_n, m["mention_norm"] == lbl_n["label_norm"]).select(
        "mention_norm", "_lid"
    )

    sizes = [3, 6] if multi_resolution else [3]
    grammed_parts = []
    for n in sizes:
        # per-tier df budget: 6-grams are exponentially rarer than trigrams,
        # so the longer tier can afford a 16× larger cap — that is what lets
        # it catch mentions whose trigrams are ALL hot without re-admitting
        # the trigram skew
        cap = None if max_gram_df is None else max_gram_df * (16 if n == 6 else 1)
        mg = m.select(
            "mention_norm",
            F.explode(_grams(F.col("mention_norm"), n=n)).alias("gram"),
        )
        lg = lbl_n.select(
            "_lid", "length",
            F.explode(_grams(F.col("label_norm"), n=n)).alias("gram"),
        )
        if cap is not None:
            hot = lg.groupBy("gram").count().where(F.col("count") > cap).select("gram")
            lg = lg.join(bcast(hot), "gram", "left_anti")
        grammed_parts.append(
            mg.join(lg, "gram")
            .where(
                (F.col("length") >= 0.25 * F.length("mention_norm"))
                & (F.col("length") <= 4 * F.length("mention_norm"))
            )
            .select("mention_norm", "_lid")
        )
    grammed = grammed_parts[0]
    for part in grammed_parts[1:]:
        grammed = grammed.unionByName(part)
    if max_candidates_per_mention is not None:
        # count-based candidate pruning (PPJoin-style), JVM-side: keep each
        # mention's top N labels by shared blocking keys before the fuzzy
        # kernel sees a pair. The true match shares the most keys; junk
        # admitted through one mid-frequency gram drops out. Exact-path hits
        # are never pruned. One exchange on mention_norm serves both the
        # count groupBy and the ranking window.
        counted = (
            grammed.repartition("mention_norm")
            .groupBy("mention_norm", "_lid")
            .agg(F.count(F.lit(1)).alias("_shared"))
        )
        w = Window.partitionBy("mention_norm").orderBy(
            F.desc("_shared"), F.asc("_lid")
        )
        grammed = (
            counted.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= max_candidates_per_mention)
            .select("mention_norm", "_lid")
        )
    ids = exact.unionByName(grammed).distinct()
    return ids.join(bcast(lbl), "_lid").select(
        "mention_norm",
        F.length("mention_norm").alias("m_len"),
        "entity", "label", "label_norm", "length", "origin", "pr",
    )


def score_candidates(pairs: DataFrame, idf: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Steps 5–8 → (mention_norm, entity, best_label, score), top ``k`` per
    mention. The pairs are checkpointed (lazily) once partitioned by mention:
    the mention-scale IDF frame and the Arrow pass both read that copy."""
    spark = pairs.sparkSession
    # ≤ 2 Python tasks per core, and no more than the input-sized shuffle
    # partition count: every Python task has a fixed worker set-up cost
    par = min(2 * spark.sparkContext.defaultParallelism,
              int(spark.conf.get("spark.sql.shuffle.partitions")))
    ck = _sckpt(pairs.select(
        "mention_norm", "entity", "label", "label_norm", "origin", "pr",
        # Spark's log2 keeps scores bit-equal to the SQL formulation; it is
        # monotone, so the L7 denominator is the per-mention max of _lpr_den
        F.log2(F.col("pr") + 1.0).alias("_lpr"),
        F.log2(F.greatest("pr", F.lit(1e-9)) + 1.0).alias("_lpr_den"),
    ).repartition(par, "mention_norm"))
    # the IDFs of a mention's own tokens: all its lexical term can use
    m_idf = (
        ck.select("mention_norm").distinct()
        .withColumn("token", F.explode(F.array_distinct(F.split("mention_norm", r"\s+"))))
        .join(bcast(idf), "token")
        .groupBy("mention_norm")
        .agg(F.collect_list(F.struct("token", "idf")).alias("m_idf"))
    )
    return ck.join(bcast(m_idf), "mention_norm", "left").mapInArrow(
        partial(_score_partition, k=k),
        "mention_norm string, entity string, best_label string, score double",
    )


def _codes(*arrays):
    """Dense int64 id of each row's key tuple over the given arrays."""
    keys = [pc.dictionary_encode(a, null_encoding="encode").indices.to_numpy() for a in arrays]
    return np.unique(np.stack(keys), axis=1, return_inverse=True)[1].astype(np.int64)


def _group_max(groups, values):
    out = np.full(groups.max() + 1, -np.inf)
    np.maximum.at(out, groups, values)
    return out[groups]


def _ranked(groups, table: pa.Table, sort_keys):
    """Rows sorted by (group, *sort_keys), and each one's rank in its group."""
    order = pc.sort_indices(table.append_column("_g", pa.array(groups)),
                            [("_g", "ascending"), *sort_keys], null_placement="at_end").to_numpy()
    g, pos = groups[order], np.arange(len(order))
    starts = np.r_[True, g[1:] != g[:-1]]
    return order, pos - np.maximum.accumulate(np.where(starts, pos, 0))


def _lex_raw(g, label_norm, m_idf, n_dup):
    """IDFs of each row's label tokens that are tokens of its mention
    (``m_idf[g]``), summed as the JVM plan did: every occurrence counts, left
    to right, and the sequence repeats once per surviving row sharing
    (mention, entity, label_norm) — ``n_dup``."""
    # Java's \s, as in Spark's split(): ASCII only, a no-break space stays in its token
    lt = pc.split_pattern_regex(pc.cast(label_norm, pa.string()), r"[ \t\n\x0B\f\r]+")
    lrow = pc.list_parent_indices(lt).to_numpy()
    mtok, midf = m_idf.flatten().flatten()

    def key(rows, tokens):  # "<mention id>\0<token>"
        return pc.binary_join_element_wise(pc.cast(pa.array(rows), pa.string()), tokens, "\0")

    hit = pc.index_in(key(g[lrow], lt.flatten()),
                      value_set=key(pc.list_parent_indices(m_idf), pc.cast(mtok, pa.string())))
    # one column per token position, zero-padded: adding 0.0 is exact, so
    # summing column by column is the row-wise left-to-right sum
    lens = pc.list_value_length(lt).to_numpy()
    mat = np.zeros((len(lens), int(lens.max())))
    mat[lrow, np.arange(len(lrow)) - (np.cumsum(lens) - lens)[lrow]] = pc.fill_null(
        midf.take(hit), 0.0).to_numpy()
    lex = np.zeros(len(lens))
    for rep in range(int(n_dup.max())):
        for column in mat.T:
            lex += np.where(rep < n_dup, column, 0.0)
    return lex


def _score_partition(batches, k: int):
    """Steps 5–8 over one partition, which holds all pairs of its mentions."""
    batches = list(batches)
    if not batches or not sum(b.num_rows for b in batches):
        return
    t = pa.Table.from_batches(batches)
    col = {name: t.column(name).combine_chunks() for name in t.column_names}
    arr = lambda name: col[name].to_numpy(zero_copy_only=False)  # noqa: E731

    # L5, with the origin factor applied before the threshold (es_lookup.py:156-187)
    fuzzy, pexact = fuzzy_pexact_batch(arr("mention_norm"), arr("label_norm"), MIN_FUZZY)
    aliases = ("MAIN_ALIAS", "SUB_ALIAS")
    fuzzy_w = fuzzy * np.select([arr("origin") == o for o in aliases],
                                [ORIGIN_WEIGHTS[o] for o in aliases], ORIGIN_WEIGHTS["LABEL"])

    # L6: adaptive threshold per mention
    g = _codes(col["mention_norm"])
    keep = np.flatnonzero(
        (fuzzy_w >= np.maximum(MIN_FUZZY, _group_max(g, fuzzy_w) - ADAPTIVE_MARGIN)) | pexact)
    if not len(keep):
        return
    m_idf = col["m_idf"].take(np.unique(g, return_index=True)[1])
    g, fuzzy_w = g[keep], fuzzy_w[keep]
    kept = {c: col[c].take(keep) for c in ("entity", "label", "label_norm", "pr")}
    dup = _codes(pa.array(g), kept["entity"], kept["label_norm"])
    lex = _lex_raw(g, kept["label_norm"], m_idf, np.bincount(dup)[dup])

    # per-entity best label: max of (fuzzy_w, lex_raw, pr, label) (es_lookup.py:148-152)
    order, rank = _ranked(
        _codes(pa.array(g), kept["entity"]),
        pa.table({"f": fuzzy_w, "x": lex, "pr": kept["pr"], "l": kept["label"]}),
        [("f", "descending"), ("x", "descending"), ("pr", "descending"), ("l", "descending")])
    best = order[rank == 0]
    rows, g, lex = keep[best], g[best], lex[best]

    # L7: final score
    max_lex = _group_max(g, lex)
    with np.errstate(divide="ignore", invalid="ignore"):
        lex_term = np.where(max_lex > 0, lex / max_lex, 0.0)
    score = (fuzzy_w[best] * FUZZY_FACTOR
             + arr("_lpr")[rows] * PR_FACTOR / _group_max(g, arr("_lpr_den")[rows])
             + lex_term * LEX_FACTOR)

    # L8: top-K per mention, ties on entity ascending
    order, rank = _ranked(g, pa.table({"s": score, "e": col["entity"].take(rows)}),
                          [("s", "descending"), ("e", "ascending")])
    top = order[rank < k]
    out = rows[top]
    yield pa.RecordBatch.from_arrays(
        [col["mention_norm"].take(out), col["entity"].take(out), col["label"].take(out),
         pa.array(score[top])],
        names=["mention_norm", "entity", "best_label", "score"])


def lookup(
    body: DataFrame,
    col_classes: DataFrame,
    labels: DataFrame,
    idf: DataFrame,
    k: int = DEFAULT_K,
    max_gram_df: int | None = None,
    min_coverage: float = 0.3,
    multi_resolution: bool = False,
    max_candidates_per_mention: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full stage: returns (candidates, kept_entity_cols).

    candidates: (table_id, row_idx, col_idx, mention_norm, entity, best_label,
    score) — per-cell candidate set after the coverage demotion rule
    (annotation_models.py:261-277; we apply it uniformly, NOT replicating the
    reference's iterator-skip bug — documented deviation, SURVEY §3.1.d).
    """
    from .skew import salted_join

    mentions = extract_mentions(body, col_classes).transform(_sckpt)
    distinct_mentions = mentions.select("mention_norm").distinct()
    pairs = candidate_pairs(
        distinct_mentions, labels, max_gram_df=max_gram_df,
        multi_resolution=multi_resolution,
        max_candidates_per_mention=max_candidates_per_mention,
    )
    cand = score_candidates(pairs, idf, k=k).transform(_sckpt)

    # coverage per entity column: fraction of the column's data ROWS whose
    # cell has ≥1 candidate — the reference computes col_coverage per row over
    # ALL rows of the column, including short/empty cells that never reached
    # lookup (annotation_models.py:262-277), so a column dominated by one hot
    # covered mention stays entity-classed even when its distinct-mention
    # coverage would be low. Whether a cell is covered depends only on its
    # DISTINCT normalized mention, so coverage is computed from the tiny
    # covered-mention set (broadcast semi join) — the cells × candidates
    # expansion below runs only for the columns that survive the gate.
    ent = col_classes.where(F.col("col_class") == "entity").select(
        "table_id", "col_idx"
    )
    total_rows = (
        body.join(ent, ["table_id", "col_idx"])
        .groupBy("table_id", "col_idx")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    covered = cand.select("mention_norm").distinct()
    cov_rows = (
        mentions.join(bcast(covered), "mention_norm", "left_semi")
        .select("table_id", "col_idx", "row_idx")
        .distinct()
        .groupBy("table_id", "col_idx")
        .agg(F.count(F.lit(1)).alias("n_cov"))
    )
    cov = (
        total_rows.join(cov_rows, ["table_id", "col_idx"], "left")
        .fillna({"n_cov": 0})
        .select(
            "table_id", "col_idx",
            (F.col("n_cov") / F.col("n_rows")).alias("coverage"),
        )
    )
    kept = cov.where(F.col("coverage") >= min_coverage).select(
        "table_id", "col_idx", "coverage"
    )

    # head surface forms ("USA") appear in millions of cells but have ≤K
    # candidates — the classic hot probe key. Salt it explicitly.
    kept_mentions = mentions.join(
        bcast(kept.select("table_id", "col_idx")), ["table_id", "col_idx"]
    )
    candidates = salted_join(kept_mentions, cand, ["mention_norm"]).select(
        "table_id", "row_idx", "col_idx", "cell", "mention_norm", "entity",
        "best_label", "score",
    )
    return candidates, kept
