"""The four workloads: their ops, inputs, oracles and checks.

Each workload has ``timed`` ops, run in every pass of a measured run, and
``check_only`` ops, run once by check mode together with the timed ones.
The timed lists are what a run of ``--seconds`` seconds can repeat on a
4-core host inside the benchmark's time budget; the check-only ops are the
rest of each workload's query list, so check mode still covers all of it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.ml import Estimator, PipelineModel

import checks
import datagen
import loans_check
import loansgen
from consumer_loans_analysis_spark.ml.cv import cross_validate
from consumer_loans_analysis_spark.ml.zoo import assemble_features, model_zoo
from consumer_loans_analysis_spark.pipeline import loans
from consumer_loans_analysis_spark.pipeline.loans import fit_full_pipeline
from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputerModel
from consumer_loans_analysis_spark.plans import registry
from consumer_loans_analysis_spark.schemas import TESTDATA_TABLES
from consumer_loans_analysis_spark.sources.readers import read_loans_csv
from tracing import Untraced
from verify_local import canon_pdf


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    timed: tuple[str, ...]
    check_only: tuple[str, ...]
    construct_layer: str  # the layer a registry query's construction runs in

    @property
    def scale(self) -> str:
        if self.name == "loans":
            return "/".join(str(n) for n in loansgen.SPLIT_ROWS.values()) + " rows"
        return f"sf{self.sf}"


WORKLOADS = {
    w.name: w
    for w in [
        # scans, shuffles, joins and windows under Catalyst/AQE; no Python workers
        Workload(
            "olap",
            0.1,
            ("q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
             "w1_topn_per_group", "asof_join_last_click", "e1_tumbling_window"),
            ("q5_local_supplier_volume", "q10_returned_items", "q18_large_orders",
             "join_broadcast_part_revenue", "rollup_region_nation", "grouping_sets_custom",
             "w3_running_sum", "w4_ranking_functions", "range_join_followers",
             "e3_session_window", "a1_summary_numeric", "a12_corr_matrix"),
            "plans",
        ),
        # the Arrow/pandas UDF boundary, eager construction-time jobs,
        # driver-built models and a drained stateful stream
        Workload(
            "datapipe",
            0.01,
            ("sim5_pq_topk", "t14b_bpe_encode_broadcast", "sk4_mg_heavy_hitters",
             "pipe1_corpus_curation", "t2_quality_features", "e6_stream_dedup_drained"),
            ("d2_ngram_jaccard_pairs", "d2b_ngram_jaccard_capped", "d3_minhash_lsh_pairs",
             "d12_bloom_incremental_dedup", "sim1_cosine_topk", "sim5b_pq_full_rerank_topk",
             "sim8_ivfadc_pinned_topk", "sk3_cms_heavy_hitters", "t20_wordpiece_greedy_encode",
             "t21_unigram_viterbi_encode", "dq8_seed_quality_classifier", "mm3_sample_frames",
             "pipe2_pretrain_prep", "pipe3_audited_curation", "pipe4_clean_dedup_shard",
             "pipe5_fluency_curation"),
            "operators",
        ),
        # the paper's pipeline: many small Spark jobs and MLlib fits
        Workload(
            "loans",
            0.0,
            ("fit", "score", "cv"),
            ("fit_imputers", "persist"),
            "pipeline",
        ),
        # micro-batches with checkpoint/WAL and state-store commits
        Workload(
            "stream_ingest",
            0.01,
            ("e6_stream_dedup_drained",),
            ("e4_stream_tumbling_drained", "e5_stream_join_drained", "e11_stream_stateful_drained",
             "e13_stream_static_enrich_drained", "d10_stream_dedup_drained",
             "sk5_streaming_mg_heavy_hitters", "dq6_stream_c4_gate_drained"),
            "streaming",
        ),
    ]
}

# Registered queries without a DuckDB oracle; checks.check_pq_topk replaces it.
DECLARED_CHECKS = frozenset({"sim5_pq_topk"})
PQ_QUERIES, PQ_K = 5, 5  # sim5_pq_topk searches vec_id < 5 for the top 5
LOANS_OPS = ("fit", "score", "cv", "fit_imputers", "persist")
CV_FOLDS = 6


class QueryOps:
    """Registered queries over generated parquet tables, checked against
    their DuckDB oracles or a declared check."""

    def __init__(self, workload: Workload, seed: int, workdir: str):
        registry.load_all()
        self.workload = workload
        self.data_dir = datagen.write_tables(os.path.join(workdir, "data"), seed, workload.sf)
        self.expected: dict[str, tuple[list[str], list[str]]] = {}
        self.embeddings: pd.DataFrame | None = None

    def prepare(self, ops) -> None:
        """Oracle answers, computed before set-up and outside every timed
        window, on DuckDB over the same parquet files."""
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        for name in ops:
            if name in registry.ORACLES:
                pdf = con.execute(registry.ORACLES[name]).df()
                self.expected[name] = (canon_pdf(pdf), list(pdf.columns))
        con.close()
        if DECLARED_CHECKS & set(ops):
            self.embeddings = pq.read_table(os.path.join(self.data_dir, "embeddings.parquet")).to_pandas()

    def run(self, spark, name: str, hooks) -> pd.DataFrame:
        # a drained stream runs its whole query while the DataFrame is built
        layer = "streaming" if "stream" in name else self.workload.construct_layer
        with hooks.phase("construct", layer):
            df = registry.QUERIES[name](spark, self.data_dir)
        return hooks.collect(df)

    def check(self, name: str, pdf: pd.DataFrame) -> str | None:
        if name in DECLARED_CHECKS:
            return checks.check_pq_topk(pdf, self.embeddings, PQ_QUERIES, PQ_K)
        rows, cols = self.expected[name]
        return checks.compare_canonical(pdf, rows, cols)


class LoansOps:
    """The loans pipeline on a seeded synthetic split, written as CSV and
    read through the engine's own loans reader. Only the generated frames
    reach the engine."""

    def __init__(self, workload: Workload, seed: int, workdir: str):
        self.workload = workload
        self.workdir = os.path.join(workdir, "loans")
        os.makedirs(self.workdir, exist_ok=True)
        self.frames = loansgen.generate(seed)
        self.paths = {}
        for split, pdf in self.frames.items():
            self.paths[split] = os.path.join(self.workdir, f"{split}.csv")
            pdf.to_csv(self.paths[split], index=False)
        self.models = None  # (processing, features) of the last `fit`
        self.imputer_models = None  # the same, fitted with the model imputers
        self.imputer_scored: dict[str, pd.DataFrame] = {}

    def prepare(self, ops) -> None:
        self.state = loans_check.expected_state(self.frames["train"])

    def _read(self, spark, split: str, hooks):
        with hooks.phase("sources.read_loans_csv", "sources"):
            return read_loans_csv(spark, self.paths[split])

    def _fit(self, spark, hooks, with_model_imputers: bool):
        train = self._read(spark, "train", hooks)
        if isinstance(hooks, Untraced):
            return fit_full_pipeline(train, with_model_imputers=with_model_imputers)
        # traced: fit stage by stage, as Pipeline.fit does, to time each one
        fitted, df, index = [], train, 0
        for pipeline in (loans.build_processing_pipeline(with_model_imputers), loans.build_feature_pipeline()):
            stages = pipeline.getStages()
            last_est = max(i for i, s in enumerate(stages) if isinstance(s, Estimator))
            models, cur = [], df
            for i, stage in enumerate(stages):
                with hooks.phase(f"pipeline.fit.{index:02d}_{type(stage).__name__}", "pipeline"):
                    model = stage.fit(cur) if isinstance(stage, Estimator) else stage
                    if i < last_est:
                        cur = model.transform(cur)
                models.append(model)
                index += 1
            fitted.append(PipelineModel(models))
            df = fitted[-1].transform(df)
        return tuple(fitted)

    def _score(self, spark, models, hooks) -> dict[str, pd.DataFrame]:
        processing, features = models
        out = {}
        for split in ("valid", "test"):
            raw = self._read(spark, split, hooks)
            with hooks.phase("pipeline.transform", "pipeline"):
                df = features.transform(processing.transform(raw))
            out[split] = hooks.collect(df, layer="pipeline")
        return out

    def run(self, spark, name: str, hooks):
        if name == "fit":
            self.models = self._fit(spark, hooks, with_model_imputers=False)
            return self.models
        if name == "score":
            return self._score(spark, self.models, hooks)
        if name == "cv":
            processing, features = self.models
            train = self._read(spark, "train", hooks)
            with hooks.phase("pipeline.transform", "pipeline"):
                assembled = assemble_features(features.transform(processing.transform(train)))
            with hooks.phase("ml.cross_validate", "ml"):
                folds = cross_validate(model_zoo()["gaussian_nb"], assembled, k=CV_FOLDS)
            return pd.DataFrame(folds)
        if name == "fit_imputers":
            self.imputer_models = self._fit(spark, hooks, with_model_imputers=True)
            self.imputer_scored = self._score(spark, self.imputer_models, hooks)
            return self.imputer_models, self.imputer_scored
        if name == "persist":
            return self._persist(spark, self.imputer_models, hooks)
        raise KeyError(name)

    def _persist(self, spark, models, hooks) -> dict[str, pd.DataFrame]:
        """Save and load both fitted models, then score again."""
        path = tempfile.mkdtemp(prefix="persist_", dir=self.workdir)
        try:
            loaded = []
            with hooks.phase("pipeline.persist", "pipeline"):
                for i, model in enumerate(models):
                    target = os.path.join(path, f"model{i}")
                    model.write().overwrite().save(target)
                    loaded.append(PipelineModel.load(target))
            return self._score(spark, tuple(loaded), hooks)
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def check(self, name: str, result) -> str | None:
        train = self.frames["train"]
        if name == "fit":
            return loans_check.check_fit(result[0], self.state) or loans_check.check_combiner(
                result[1], train, self.state)
        if name == "score":
            cols = loans_check.featured_columns(loans_check.PROCESSED_BASE)
            for split, pdf in result.items():
                reason = (loans_check.check_scored(pdf, cols)
                          or loans_check.check_standardized(pdf, self.frames[split], self.state)
                          or loans_check.check_features(pdf, self.models[1]))
                if reason:
                    return f"{split}: {reason}"
            return None
        if name == "cv":
            return loans_check.check_cv(result, train, CV_FOLDS)
        if name == "fit_imputers":
            models, scored = result
            reason = loans_check.check_fit(models[0], self.state) or loans_check.check_combiner(
                models[1], train, self.state)
            cols = loans_check.featured_columns(loans_check.PROCESSED_BASE + loans_check.PROCESSED_IMPUTED)
            labels = {"EMPLOYEE_NO_NUM": _imputer_labels(models[0], "EMPLOYEE_NO_NUM")}
            for split, pdf in scored.items():
                reason = (reason or loans_check.check_scored(pdf, cols, labels)
                          or loans_check.check_features(pdf, models[1]))
            return reason
        if name == "persist":
            return _same_scores(result, self.imputer_scored)
        raise KeyError(name)


def _imputer_labels(processing, target: str) -> list[float]:
    for stage in processing.stages:
        if isinstance(stage, ModelImputerModel) and stage.spec["target"] == target:
            return [float(v) for v in stage.spec["labels"]]
    raise KeyError(target)


def _same_scores(got: dict, want: dict) -> str | None:
    for split, pdf in want.items():
        if not got[split].equals(pdf):
            return f"{split}: scores after save/load differ from in-memory scores"
    return None


def make_ops(workload: Workload, seed: int, workdir: str):
    cls = LoansOps if workload.name == "loans" else QueryOps
    return cls(workload, seed, workdir)
