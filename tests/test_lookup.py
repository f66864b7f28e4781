"""Stage 3: blocked fuzzy candidate generation against the mini-KG."""

import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from table_annotation_spark import fixtures
from table_annotation_spark.functions.similarity import lookup_fuzzy_pexact
from table_annotation_spark.operators import lookup as lk
from table_annotation_spark.operators.preprocessing import (
    body_cells,
    column_meta,
    preprocess_cells,
)
from table_annotation_spark.sources.embedded_tables import extract_cells


@pytest.fixture(scope="module")
def pipeline(spark, src_df, kg):
    labels, edges = kg
    prep = preprocess_cells(extract_cells(src_df)).cache()
    body = body_cells(prep).cache()
    cols = column_meta(prep)
    classes = lk.classify_columns(cols, body).cache()
    idf = lk.token_idf(labels).cache()
    cand, kept = lk.lookup(body, classes, labels, idf)
    return {"body": body, "classes": classes, "cand": cand.cache(), "kept": kept}


class TestColumnClasses:
    def test_movie_columns(self, spark, pipeline):
        tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        classes = {
            r["col_idx"]: r["col_class"]
            for r in pipeline["classes"].where(F.col("table_id") == tid).collect()
        }
        assert classes[0] == "entity"   # Title
        assert classes[1] == "date"     # Year
        assert classes[2] == "entity"   # Cast
        assert classes[3] == "entity"   # Genre

    def test_noheader_numeric_index(self, spark, pipeline):
        tid = fixtures.table_id_of("acme/metrics", "data/readings.csv", "d" * 40)
        classes = {
            r["col_idx"]: r["col_class"]
            for r in pipeline["classes"].where(F.col("table_id") == tid).collect()
        }
        assert classes[0] == "index"


class TestCandidates:
    def test_top_candidate_exact(self, spark, pipeline):
        cand = pipeline["cand"]
        tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        top = (
            cand.where((F.col("table_id") == tid) & (F.col("mention_norm") == "pulp fiction"))
            .orderBy(F.desc("score"))
            .first()
        )
        assert top["entity"] == "Q1"  # film outranks the soundtrack (PR + origin)

    def test_fuzzy_match_survives_typo(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("pulp fictoin",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels)
        idf = lk.token_idf(labels)
        out = lk.score_candidates(pairs, idf).collect()
        assert any(r["entity"] == "Q1" for r in out)

    def test_alias_weighting(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("mufc",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels)
        out = lk.score_candidates(pairs, lk.token_idf(labels)).collect()
        best = max(out, key=lambda r: r["score"])
        assert best["entity"] == "Q18656"  # the MUFC golden (README.md:40-47)

    def test_adaptive_threshold_prunes(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("paris",)], ["mention_norm"])
        out = lk.score_candidates(
            lk.candidate_pairs(m, labels), lk.token_idf(labels)
        ).collect()
        ents = {r["entity"] for r in out}
        assert "Q90" in ents and "Q91" in ents
        best = max(out, key=lambda r: r["score"])
        assert best["entity"] == "Q90"  # PR separates Paris from Paris, Texas

    def test_hot_gram_dropped_exact_path_survives(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("usa",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels, max_gram_df=0)  # drop ALL grams
        out = lk.score_candidates(pairs, lk.token_idf(labels)).collect()
        assert any(r["entity"] == "Q30" for r in out)

    def test_coverage_demotion(self, spark, pipeline):
        # every kept entity column must have coverage >= 0.3
        for r in pipeline["kept"].collect():
            assert r["coverage"] >= 0.3


# ---------------------------------------------------------------- reference
# A dict-and-loop restatement of lookup steps 5–8 (L5–L8), written from the
# scoring rules rather than from the engine. It keeps the quirks of the
# original DataFrame formulation; each can be switched off through ``plain``
# so that the cases below prove they exercise it:
#   "dup"   lex_raw is repeated once per surviving row sharing
#           (mention, entity, label_norm);
#   "split" tokens split like Java's \s+ (ASCII whitespace only);
#   "tuple" an entity's best label is the max of (fuzzy_w, lex_raw, pr, label);
#   "ties"  equal scores rank by entity ascending.
_JAVA_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(s, plain):
    return s.split() if "split" in plain else _JAVA_SPLIT.split(s)


def _jvm_log2(spark, xs):
    # Spark's log2 (a StrictMath.log ratio) differs from math.log2 in the
    # last bit for a few percent of inputs, so evaluate it where it runs
    rows = spark.createDataFrame([(float(x),) for x in set(xs)], "x double")
    return {r["x"]: r["y"] for r in rows.select("x", F.log2("x").alias("y")).collect()}


def reference_scores(spark, pair_rows, idf, k, plain=frozenset()):
    by_mention = defaultdict(list)
    for r in pair_rows:
        fuzzy, pexact = lookup_fuzzy_pexact(r["mention_norm"], r["label_norm"], lk.MIN_FUZZY)
        by_mention[r["mention_norm"]].append(
            (r, fuzzy * lk.ORIGIN_WEIGHTS.get(r["origin"], 1.0), pexact))
    best_labels = {}
    for mention, rows in by_mention.items():
        floor = max(lk.MIN_FUZZY, max(fw for _, fw, _ in rows) - lk.ADAPTIVE_MARGIN)
        survivors = [(r, fw) for r, fw, pexact in rows if fw >= floor or pexact]
        n_dup = Counter((r["entity"], r["label_norm"]) for r, _ in survivors)
        m_tokens = set(_tokens(mention, plain))
        per_entity = {}
        for r, fw in survivors:
            lex = 0.0
            reps = 1 if "dup" in plain else n_dup[(r["entity"], r["label_norm"])]
            for _ in range(reps):
                for tok in _tokens(r["label_norm"], plain):
                    if tok in m_tokens:
                        lex += idf.get(tok, 0.0)
            cand = (fw, lex, r["pr"], r["label"])
            cur = per_entity.get(r["entity"])
            if "tuple" in plain:
                # the plain alternative: fuzzy_w, then the smallest label
                better = cur is None or fw > cur[0] or (fw == cur[0] and r["label"] < cur[3])
            else:
                better = cur is None or cand > cur
            if better:
                per_entity[r["entity"]] = cand
        best_labels[mention] = per_entity
    log2 = _jvm_log2(spark, [x for per in best_labels.values() for v in per.values()
                             for x in (v[2] + 1.0, max(v[2], 1e-9) + 1.0)])
    out = {}
    for mention, per_entity in best_labels.items():
        max_pr = max(v[2] for v in per_entity.values())
        max_lex = max(v[1] for v in per_entity.values())
        scored = []
        for entity, (fw, lex, pr, label) in per_entity.items():
            score = (lk.FUZZY_FACTOR * fw
                     + lk.PR_FACTOR * log2[pr + 1.0] / log2[max(max_pr, 1e-9) + 1.0]
                     + lk.LEX_FACTOR * (lex / max_lex if max_lex > 0 else 0.0))
            scored.append((score, entity, label))
        if "ties" in plain:
            scored.sort(key=lambda s: (s[0], s[1]), reverse=True)
        else:
            scored.sort(key=lambda s: (-s[0], s[1]))
        for score, entity, label in scored[:k]:
            out[(mention, entity, label)] = score
    return out


def _engine_scores(pairs, idf, k):
    return {
        (r["mention_norm"], r["entity"], r["best_label"]): r["score"]
        for r in lk.score_candidates(pairs, idf, k=k).collect()
    }


def _customer_labels(spark, n=40):
    from table_annotation_spark.sources import kg_build

    rows = [
        {"entity": f"Q{3000000 + i}", "label": f"Customer#{i:09d}",
         "length": 18, "origin": "LABEL", "pr": 0.1}
        for i in range(1, n + 1)
    ]
    return kg_build.labels_df(spark, rows)


def _typo(i):
    """customer#… with one letter of the prefix replaced by another letter."""
    name = f"customer#{i:09d}"
    p = i % 8
    return name[:p] + ("x" if name[p] != "x" else "z") + name[p + 1:]


QUIRK_LABELS = [
    # dup: two rows share label_norm "big apple"; "apple" gets in by pexact
    ("Q701", "Big Apple", "LABEL", 0.5), ("Q701", "BIG APPLE", "MAIN_ALIAS", 0.5),
    ("Q702", "apple", "LABEL", 0.5),
    # split: a no-break space is not whitespace to Java's \s
    ("Q711", "San Jose", "LABEL", 0.4), ("Q712", "San Jose", "LABEL", 0.4),
    # tuple: equal fuzzy_w and lex_raw, so pr picks the best label
    ("Q721", "Lyon", "LABEL", 0.6), ("Q721", "LYON", "LABEL", 0.2),
    ("Q722", "Lyons", "LABEL", 0.3),
    # ties: identical labels and PR
    ("Q731", "Springfield", "LABEL", 0.5), ("Q732", "Springfield", "LABEL", 0.5),
]
QUIRK_MENTIONS = {"dup": "big apple", "split": "san jose", "tuple": "lyon",
                  "ties": "springfield"}


class TestReferenceScorer:
    @pytest.fixture(scope="class")
    def quirk_kg(self, spark):
        from table_annotation_spark.sources import kg_build

        labels = kg_build.labels_df(spark, [
            {"entity": e, "label": lb, "length": len(lb), "origin": o, "pr": pr}
            for e, lb, o, pr in QUIRK_LABELS
        ]).cache()
        return labels, lk.token_idf(labels).cache()

    @staticmethod
    def _compare(spark, mentions, labels, idf, k, plain=frozenset()):
        m = spark.createDataFrame([(x,) for x in mentions], "mention_norm string")
        pairs = lk.candidate_pairs(m, labels).cache()
        idf_map = {r["token"]: r["idf"] for r in idf.collect()}
        engine = _engine_scores(pairs, idf, k)
        ref = reference_scores(spark, pairs.collect(), idf_map, k, plain)
        pairs.unpersist()
        return engine, ref

    @pytest.mark.parametrize("k", [1, 20])
    def test_mini_kg_mentions(self, spark, kg, k):
        labels, _ = kg
        mentions = ["pulp fiction", "pulp fictoin", "mufc", "paris", "usa",
                    "the matrix", "titanic", "john travolta", "drama film"]
        engine, ref = self._compare(spark, mentions, labels, lk.token_idf(labels), k)
        assert engine and engine == ref

    @pytest.mark.parametrize("k", [1, 20])
    def test_typo_customer_names(self, spark, k):
        labels = _customer_labels(spark).cache()
        mentions = [_typo(i) for i in range(1, 41)]
        engine, ref = self._compare(spark, mentions, labels, lk.token_idf(labels), k)
        assert engine == ref
        # ascending by score, so each mention keeps its best entity
        top = {m: e for (m, e, _), _ in sorted(engine.items(), key=lambda kv: kv[1])}
        assert all(top[_typo(i)] == f"Q{3000000 + i}" for i in range(1, 41))

    @pytest.mark.parametrize("quirk", sorted(QUIRK_MENTIONS))
    def test_quirk(self, spark, quirk_kg, quirk):
        labels, idf = quirk_kg
        k = 1 if quirk == "ties" else 20
        engine, ref = self._compare(spark, [QUIRK_MENTIONS[quirk]], labels, idf, k)
        assert engine == ref
        _, plain = self._compare(
            spark, [QUIRK_MENTIONS[quirk]], labels, idf, k, frozenset({quirk}))
        assert engine != plain, f"case does not exercise the {quirk!r} quirk"


class TestScoreInvariance:
    """Scores depend on neither the partition count nor AQE."""

    def test_partitions_and_aqe(self, spark, kg):
        labels = _customer_labels(spark).unionByName(kg[0]).cache()
        idf = lk.token_idf(labels).cache()
        m = spark.createDataFrame(
            [(x,) for x in [_typo(i) for i in range(1, 41)]
             + ["pulp fictoin", "paris", "usa", "mufc"]],
            "mention_norm string")
        pairs = lk.candidate_pairs(m, labels).cache()
        conf = {c: spark.conf.get(c) for c in
                ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
        results = []
        try:
            for aqe in ("false", "true"):
                for parts in (1, 4, 13):
                    spark.conf.set("spark.sql.adaptive.enabled", aqe)
                    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                    results.append(sorted(
                        tuple(r) for r in lk.score_candidates(pairs, idf, k=5).collect()))
        finally:
            for c, v in conf.items():
                spark.conf.set(c, v)
        assert results[0] and all(r == results[0] for r in results[1:])


def test_partition_without_survivors():
    """A partition whose pairs all fall below the fuzzy floor emits no rows."""
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict({
        "mention_norm": ["abcdefgh"], "entity": ["Q1"], "label": ["Abxyzuvw"],
        "label_norm": ["abxyzuvw"], "origin": ["LABEL"], "pr": [0.5],
        "_lpr": [0.5], "_lpr_den": [0.5],
        "m_idf": pa.array([None], pa.list_(pa.struct([("token", pa.string()),
                                                      ("idf", pa.float64())]))),
    })
    assert list(lk._score_partition(iter([batch]), k=5)) == []
    assert list(lk._score_partition(iter([]), k=5)) == []
