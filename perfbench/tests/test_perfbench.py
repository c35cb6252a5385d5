"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import datagen  # noqa: E402
import loans_check  # noqa: E402
import loansgen  # noqa: E402
from consumer_loans_analysis_spark.pipeline.combiner import CorrMaxCombinerModel  # noqa: E402
from consumer_loans_analysis_spark.plans import registry  # noqa: E402
from pyspark.ml import PipelineModel  # noqa: E402
from consumer_loans_analysis_spark.schemas import LOANS_RAW_SCHEMA, TESTDATA_TABLES  # noqa: E402
from workloads import DECLARED_CHECKS, LOANS_OPS, WORKLOADS  # noqa: E402


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "x": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_canonical_compare_accepts_same_rows_in_any_order():
    want = _frame()
    got = want.iloc[::-1].reset_index(drop=True)
    assert checks.compare_canonical(got, checks.canon_pdf(want), list(want.columns)) is None


def test_canonical_compare_flags_value_beyond_1e6():
    want = _frame()
    got = want.copy()
    got.loc[1, "x"] += 2e-6
    assert "value mismatch" in checks.compare_canonical(got, checks.canon_pdf(want), list(want.columns))


def test_canonical_compare_flags_dropped_row():
    want = _frame()
    got = want.iloc[:2]
    assert "rowcount" in checks.compare_canonical(got, checks.canon_pdf(want), list(want.columns))


def _pq_case():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    emb = pd.DataFrame({"vec_id": np.arange(40), "embedding": list(vecs)})
    v = vecs.astype(np.float64)
    rows = []
    for q in range(5):
        cos = v[5:] @ v[q] / (np.linalg.norm(v[5:], axis=1) * np.linalg.norm(v[q]))
        order = np.argsort(-cos)[:5]
        for rank, i in enumerate(order, start=1):
            rows.append((q, int(i) + 5, round(float(cos[i]), 6), rank))
    return emb, pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cos", "rank"])


def test_pq_check_accepts_exact_answer():
    emb, got = _pq_case()
    assert checks.check_pq_topk(got, emb, 5, 5) is None


def test_pq_check_rejects_wrong_cos():
    emb, got = _pq_case()
    got.loc[3, "cos"] -= 1e-4
    assert "exact" in checks.check_pq_topk(got, emb, 5, 5)


def test_pq_check_rejects_wrong_rank():
    emb, got = _pq_case()
    got.loc[[0, 1], "rank"] = got.loc[[1, 0], "rank"].to_numpy()
    assert checks.check_pq_topk(got, emb, 5, 5) is not None


def test_pq_check_rejects_missing_row():
    emb, got = _pq_case()
    assert "ranks" in checks.check_pq_topk(got.drop(index=4), emb, 5, 5)


def test_loans_generator_is_deterministic_per_seed():
    a = loansgen.generate(7, {"train": 500})
    b = loansgen.generate(7, {"train": 500})
    c = loansgen.generate(8, {"train": 500})
    pd.testing.assert_frame_equal(a["train"], b["train"])
    assert not a["train"].equals(c["train"])


def test_loans_generator_respects_schema_and_domains():
    frames = loansgen.generate(3)
    assert {k: len(v) for k, v in frames.items()} == loansgen.SPLIT_ROWS
    df = frames["train"]
    assert list(df.columns) == LOANS_RAW_SCHEMA.fieldNames()
    assert not df.isna().any().any()
    for col, domain in [("PRODUCT", loansgen.PRODUCT), ("AREA", loansgen.AREA),
                        ("RESIDENTIAL_PLACE", loansgen.RESIDENTIAL_PLACE),
                        ("EDUCATION", loansgen.EDUCATION), ("MARITAL_STATUS", loansgen.MARITAL_STATUS),
                        ("ECONOMIC_SECTOR", loansgen.ECONOMIC_SECTOR), ("EMPLOYEE_NO", loansgen.EMPLOYEE_NO)]:
        assert set(df[col]) == set(domain), col  # every value, rare ones included
    for col in ["AREA", "EDUCATION", "ECONOMIC_SECTOR", "EMPLOYEE_NO"]:
        assert (df[col] == "Missing").any()
    assert df["AGE"].between(19, 74).all()
    assert df["WORK_SENIORITY"].between(1, 46).all()
    assert df["BUSINESS AGE"].between(1, 116).all()
    assert df["LENGTH_RELATIONSHIP_WITH_CLIENT"].between(1, 110).all()
    assert df["INCOME"].between(0, 40621.6).all()
    assert not ((df["DEBIT_CARD"] == 1) & (df["CURRENT_ACCOUNT"] == 0)).any()
    assert (df["PENSION_FUNDS"] == 0).all()
    assert 0.10 < df["FINALIZED_LOAN"].mean() < 0.25


def _cv_folds():
    rows = []
    for i, (tp, tn, fp, fn) in enumerate([(30, 200, 20, 50), (25, 210, 15, 60)]):
        p, r = tp / (tp + fp), tp / (tp + fn)
        rows.append({"fold": i, "accuracy": (tp + tn) / (tp + tn + fp + fn), "precision": p, "recall": r,
                     "f1": 2 * p * r / (p + r), "micro_f1": (tp + tn) / (tp + tn + fp + fn),
                     "roc_auc_hard": (1 + r - fp / (fp + tn)) / 2,
                     "support_pos": tp + fn, "support_neg": tn + fp})
    folds = pd.DataFrame(rows)
    train = pd.DataFrame({"FINALIZED_LOAN": [1] * 165 + [0] * 445})
    return folds, train


def test_cv_check_accepts_metrics_of_one_confusion_matrix():
    folds, train = _cv_folds()
    assert loans_check.check_cv(folds, train, 2) is None


@pytest.mark.parametrize("metric", ["precision", "f1", "roc_auc_hard", "accuracy"])
def test_cv_check_rejects_a_wrong_metric(metric):
    folds, train = _cv_folds()
    folds.loc[1, metric] += 0.01
    assert loans_check.check_cv(folds, train, 2) is not None


def _featured_case():
    rng = np.random.default_rng(1)
    scored = pd.DataFrame(rng.normal(size=(50, len(loans_check.TOTAL_SCORE_COLS))),
                          columns=loans_check.TOTAL_SCORE_COLS)
    for name, (num, den) in loans_check.RATIOS.items():
        scored[name] = scored[num] / scored[den]
    spec = {"cols": loans_check.TOTAL_SCORE_COLS, "weights": list(rng.normal(size=10)),
            "mean": 0.3, "std": 1.7, "newName": "TOTAL_SCORE", "drop": False}
    features = PipelineModel([CorrMaxCombinerModel(spec=spec)])
    scored["TOTAL_SCORE"] = (loans_check.weighted_sum(scored, spec) - spec["mean"]) / spec["std"]
    return scored, features


def test_feature_check_accepts_pandas_ratios_and_total_score():
    scored, features = _featured_case()
    assert loans_check.check_features(scored, features) is None


@pytest.mark.parametrize("col", ["TOTAL_SCORE", "BUSINESS_AGE_TO_AGE_RATIO"])
def test_feature_check_rejects_a_wrong_value(col):
    scored, features = _featured_case()
    scored.loc[7, col] += 1e-6
    assert col in loans_check.check_features(scored, features)


def test_table_generator_is_deterministic_per_seed():
    a = datagen.generate_tables(5, 0.001)
    b = datagen.generate_tables(5, 0.001)
    assert set(a) == set(TESTDATA_TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(datagen.generate_tables(6, 0.001)["lineitem"])


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_op_has_an_oracle_or_a_declared_check(name):
    registry.load_all()
    workload = WORKLOADS[name]
    ops = workload.timed + workload.check_only
    assert len(set(ops)) == len(ops)
    for op in ops:
        if name == "loans":
            assert op in LOANS_OPS
        else:
            assert op in registry.QUERIES, op
            assert op in registry.ORACLES or op in DECLARED_CHECKS, op
