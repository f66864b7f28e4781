"""The benchmark's workloads: the index they build at set-up, the operations
one iteration runs, and the check each operation's output must pass.

Every workload calls the engine only through its public functions:
``flagship.synth_kg``, ``flagship.synth_source``, ``kg_build.degrees``,
``PipelineRun.run``, ``session.tune_for_input_size``, ``lookup.token_idf``,
``lookup.candidate_pairs``, ``lookup.score_candidates``,
``functions.similarity.fuzzy_pexact_batch`` and the ``__spark_entry__``
query registry with its DuckDB oracles.
"""

from __future__ import annotations

import os
import statistics
import time

from scripts.check_oracles import value_hash

from . import inputs

KERNEL_SAMPLE = 20000
ENTITY_BASE = 3000000  # synth_kg's entity id offset for customers
# the pipeline's Spark job groups (session.job_group tags) -> layer names
PIPELINE_GROUPS = {
    "stage_prep": "preprocessing",
    "stage_lookup": "lookup",
    "annot_build_inputs": "annotation.build_inputs",
    "annot_pass1": "annotation.pass1",
    "annot_pass2": "annotation.pass2",
    "annot_pass3": "annotation.pass3",
    "annot_pass4": "annotation.pass4",
    "stage_materialize": "materialize",
    "ungrouped": "pipeline.ungrouped",
}


class Op:
    """One timed operation: ``run()`` returns the output ``check`` judges.
    The benchmark runs it under the Spark job group ``group``; an op whose
    group is None tags its own jobs (the pipeline does)."""

    def __init__(self, name, group, run, check):
        self.name, self.group, self.run, self.check = name, group, run, check


def _entity(custkey: int) -> str:
    return f"Q{custkey + ENTITY_BASE}"


def _oracle_hashes(corpus_dir: str, sql: dict[str, str]) -> dict[str, str]:
    """Value hash of each DuckDB query over the corpus' parquet files."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(corpus_dir)):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * "
                    f"FROM '{os.path.join(corpus_dir, f)}'")
    out = {}
    for name, q in sql.items():
        cur = con.execute(q)
        out[name] = value_hash(cur.fetchall(), [d[0] for d in cur.description])
    con.close()
    return out


class FuzzyLookup:
    """One typo'd mention per customer resolved against the KG label index
    through gram blocking and the fuzzy kernel, with ``kg_lookup_fuzzy``'s
    parameters; every mention's top-1 must be its own customer."""

    def __init__(self, n_customers: int, seed: int):
        self.mentions = inputs.typo_mentions(n_customers, seed)
        self.kept = self.top1 = 0

    def op(self, spark, index: dict, span) -> Op:
        frame = spark.createDataFrame(
            [(m,) for m, _ in self.mentions], "mention_norm string")
        return Op("lookup_fuzzy", "lookup.fuzzy",
                  lambda: self._top1(frame, index, span), self._check)

    @staticmethod
    def pairs(frame, index):
        from table_annotation_spark.operators import lookup as lk

        return lk.candidate_pairs(
            frame, index["labels"], max_gram_df=64, multi_resolution=True,
            max_candidates_per_mention=200,
        )

    def _top1(self, frame, index, span):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from table_annotation_spark.operators import lookup as lk

        with span("lookup.candidate_pairs"):
            pairs = self.pairs(frame, index)
        with span("lookup.score_candidates"):
            scored = lk.score_candidates(pairs, index["idf"], k=1)
        w = Window.partitionBy("mention_norm").orderBy(
            F.desc("score"), F.asc("entity"))
        with span("collect"):
            return (
                scored.withColumn("r", F.row_number().over(w))
                .where(F.col("r") == 1)
                .select("mention_norm", "entity")
                .collect()
            )

    def _check(self, rows) -> bool:
        got = {r["mention_norm"]: r["entity"] for r in rows}
        self.kept = len(rows)
        self.top1 = sum(got.get(m) == _entity(k) for m, k in self.mentions)
        return self.top1 == len(self.mentions) == len(got)

    def layer_metrics(self, spark, index: dict) -> tuple[dict, list[bool]]:
        """Traced run only, after the timed iterations: lookup work counts
        and the fuzzy-kernel micro-measurement on a fixed sample of pairs."""
        import numpy as np

        from table_annotation_spark.functions.similarity import (
            fuzzy_pexact_batch, lookup_fuzzy_pexact)
        from table_annotation_spark.operators import lookup as lk

        frame = spark.createDataFrame(
            [(m,) for m, _ in self.mentions], "mention_norm string")
        pairs = self.pairs(frame, index).select(
            "mention_norm", "label_norm").cache()
        n_pairs = pairs.count()
        sample = pairs.orderBy("mention_norm", "label_norm").limit(
            KERNEL_SAMPLE).collect()
        pairs.unpersist()
        ms = np.array([r[0] for r in sample], dtype=object)
        ls = np.array([r[1] for r in sample], dtype=object)
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            fuzzy, pexact = fuzzy_pexact_batch(ms, ls, lk.MIN_FUZZY)
            runs.append(time.perf_counter() - t0)
        scalar = [lookup_fuzzy_pexact(m, l, lk.MIN_FUZZY) for m, l in zip(ms, ls)]
        bit_equal = all(
            float(f) == s[0] and bool(p) == s[1]
            for f, p, s in zip(fuzzy, pexact, scalar)
        )
        n = len(self.mentions)
        return {
            "lookup.mentions": (n, "count"),
            "lookup.pairs": (n_pairs, "count"),
            "lookup.pairs_per_mention": (n_pairs / n, "count"),
            "lookup.kept_ratio": (self.kept / max(n_pairs, 1), "ratio"),
            "lookup.top1_ratio": (self.top1 / n, "ratio"),
            "similarity.kernel_us_per_pair": (
                statistics.median(runs) / max(len(sample), 1) * 1e6, "us"),
            "similarity.kernel_pairs": (len(sample), "count"),
        }, [bit_equal]


class Flagship:
    """The KG-construction pipeline (``PipelineRun.run``) over the customer
    and nation tables as ``kg_flagship_triples`` runs it (no order tables,
    k=3, the 3+6-gram ladder), against the KG index built at set-up. Its
    distinct entity and literal triples must equal the DuckDB oracles
    ``FLAGSHIP_TRIPLES_SQL`` and ``FLAGSHIP_LITERALS_SQL``. One run takes
    45-77 s on a 4-core host, at 30 customers as at 150 (about 100 Spark
    jobs), so it runs once, in the traced run only."""

    SPAN = "PipelineRun.run"
    ORACLES = ("FLAGSHIP_TRIPLES_SQL", "FLAGSHIP_LITERALS_SQL")

    def __init__(self, corpus_dir: str):
        from table_annotation_spark.operators import kg_queries

        self.corpus_dir = corpus_dir
        self.expected = _oracle_hashes(
            corpus_dir, {k: getattr(kg_queries, k) for k in self.ORACLES})

    def layer_metrics(self, spark, index: dict, span) -> tuple[dict, list[bool]]:
        """Run the pipeline once inside the span ``SPAN``; check its triples
        and report the engine's own stage timings (``PipelineRun.metrics``)
        and the row counts of its stage outputs."""
        from table_annotation_spark.flagship import synth_source
        from table_annotation_spark.plans.pipeline import PipelineRun

        run = PipelineRun(
            spark=spark, labels=index["labels"], edges=index["edges"],
            degrees=index["degrees"], k=3, max_gram_df=64,
            multi_resolution=True, max_candidates_per_mention=200,
        )
        with span(self.SPAN):
            out = run.run(synth_source(spark, self.corpus_dir, include_orders=False))
            # the triples frame is lazy past the engine's last checkpoint:
            # its final projection and decode run in this (ungrouped) collect
            rows = out["triples"].select("subj", "pred", "obj", "obj_kind").collect()
        got = {
            kind: value_hash(
                {(r["subj"], r["pred"], r["obj"]) for r in rows
                 if r["obj_kind"] == kind}, ["subj", "pred", "obj"])
            for kind in ("entity", "literal")
        }
        ok = (got["entity"] == self.expected["FLAGSHIP_TRIPLES_SQL"]
              and got["literal"] == self.expected["FLAGSHIP_LITERALS_SQL"])
        metrics = {
            name: (run.metrics.get(key, 0.0), "s") for key, name in (
                ("prep_sec", "preprocessing.stage_s"),
                ("lookup_sec", "lookup.stage_s"),
                ("annotate_sec", "annotation.stage_s"),
                ("build_inputs", "annotation.build_inputs_s"),
                ("pass1", "annotation.pass1_s"),
                ("pass2", "annotation.pass2_s"),
                ("pass3", "annotation.pass3_s"),
                ("pass4", "annotation.pass4_s"),
                ("materialize_sec", "materialize.stage_s"))
        }
        for key, name in (("prep", "preprocessing.cells"),
                          ("cea", "annotation.cea_rows"),
                          ("cta", "annotation.cta_rows"),
                          ("cpa", "annotation.cpa_rows")):
            metrics[name] = (out[key].count(), "count")
        metrics["materialize.triples"] = (len(rows), "count")
        return metrics, [ok]


class OpsSuite:
    """Operator queries, one per operator family, each collected in turn
    and compared with its DuckDB oracle."""

    name = "ops_suite"
    sf = 0.03
    iteration_s = 10.0  # nominal warm iteration on a 4-core host
    QUERIES = {
        "rel_topk_window": "ops.relational",
        "text_token_count": "ops.text",
        "dedup_exact": "ops.dedup",
        "sim_ann_lsh": "ops.similarity",
        "graph_pagerank": "ops.graph",
        "sess_funnel": "ops.sessions",
        "multimodal_decode_real": "ops.multimodal",
        "kg_typing_ner": "ops.kg_queries",
    }

    def __init__(self, corpus_dir: str, seed: int):
        import __spark_entry__ as entry

        self.corpus_dir = corpus_dir
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        self.expected = _oracle_hashes(
            corpus_dir, {name: oracles[name] for name in self.QUERIES})

    def build_index(self, spark, span) -> dict:
        """Size the session for the corpus, as the pipeline does; the
        queries read their parquet inputs directly."""
        from table_annotation_spark.session import tune_for_input_size

        size = inputs.sizes(self.sf)
        orders = size["customers"] * size["orders_per_customer"]
        # customers, orders, their four line items each, events
        tune_for_input_size(spark, size["customers"] + 5 * orders + size["events"])
        return {}

    def ops(self, spark, index: dict, span) -> list[Op]:
        out = []
        for name, group in self.QUERIES.items():
            fn = self.queries[name]

            def run(fn=fn):
                df = fn(spark, self.corpus_dir)
                with span("collect"):
                    return df.columns, df.collect()

            out.append(Op(
                name, group, run,
                lambda res, name=name: value_hash(res[1], res[0])
                == self.expected[name],
            ))
        return out

    def layer_metrics(self, spark, index: dict, span):
        return {}, []


class KgFront:
    """The KG-construction engine on a small corpus. Timed: fuzzy entity
    lookup of typo'd customer names against the KG label index. Traced run
    only: the lookup's work counts, the fuzzy-kernel micro-measurement and
    one run of the flagship pipeline."""

    name = "kg_front"
    sf = 0.001
    iteration_s = 6.5  # nominal warm iteration on a 4-core host

    def __init__(self, corpus_dir: str, seed: int):
        self.corpus_dir = corpus_dir
        self.lookup = FuzzyLookup(inputs.sizes(self.sf)["customers"], seed)
        self.flagship = Flagship(corpus_dir)

    def build_index(self, spark, span) -> dict:
        """The KG index, as ``run_flagship`` builds it: session sizing,
        ``synth_kg``'s labels and edges and ``kg_build.degrees`` over the
        edges, all materialized, plus the lookup's token IDF table."""
        from table_annotation_spark.flagship import synth_kg
        from table_annotation_spark.operators import lookup as lk
        from table_annotation_spark.session import ckpt, tune_for_input_size
        from table_annotation_spark.sources import kg_build

        tune_for_input_size(spark, inputs.sizes(self.sf)["customers"] * 11)
        with span("flagship.synth_kg"):
            labels, edges, _ = synth_kg(spark, self.corpus_dir)
            labels = ckpt(labels, eager=True)
            edges = ckpt(edges, eager=True)
        with span("kg_build.degrees"):
            degrees = ckpt(kg_build.degrees(edges), eager=True)
        with span("lookup.token_idf"):
            idf = ckpt(lk.token_idf(labels), eager=True)
        return {"labels": labels, "edges": edges, "degrees": degrees, "idf": idf}

    def ops(self, spark, index: dict, span) -> list[Op]:
        return [self.lookup.op(spark, index, span)]

    def layer_metrics(self, spark, index: dict, span):
        metrics, checks = self.lookup.layer_metrics(spark, index)
        more, ok = self.flagship.layer_metrics(spark, index, span)
        metrics.update(more)
        return metrics, checks + ok


WORKLOADS = {w.name: w for w in (KgFront, OpsSuite)}
# the Spark job groups of the timed operations, whose per-layer metrics the
# traced run reports per iteration
GROUPS = ["lookup.fuzzy", *OpsSuite.QUERIES.values()]
