"""S3 persistence: PipelineModel save/load round-trip for every custom
stage (SURVEY §2.1 S3, §7.2 step 7 — the joblib.dump/load equivalent).

Round-trip contract: `load(save(model)).transform(df)` must equal
`model.transform(df)` exactly (the learned state is JSON-encoded Params,
so no float drift is acceptable).

The two loans round-trips read the session's ``loans_paths`` split
(``conftest.py``): the reference's ``orig_train.csv``/``orig_valid.csv``
when the reference data directory holds them, else the seed-1
``perfbench/loansgen.py`` split at the reference's sizes. What they check
does not depend on which data is read, so none of them is skipped.
"""

from __future__ import annotations

import pytest
from pyspark.ml import PipelineModel
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.pipeline.loans import build_processing_pipeline
from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer, ModelImputerModel
from consumer_loans_analysis_spark.sources.readers import read_loans_csv


@pytest.fixture(scope="module")
def loans(spark, loans_paths):
    train = read_loans_csv(spark, loans_paths["train"]).cache()
    valid = read_loans_csv(spark, loans_paths["valid"]).cache()
    return train, valid


def _frame_equal(a, b):
    pa = a.toPandas().sort_index(axis=1)
    pb = b.toPandas().sort_index(axis=1)
    assert list(pa.columns) == list(pb.columns)
    key = [c for c in pa.columns]
    pa = pa.sort_values(key).reset_index(drop=True)
    pb = pb.sort_values(key).reset_index(drop=True)
    assert pa.equals(pb)


def test_processing_pipeline_roundtrip(spark, loans, tmp_path):
    train, valid = loans
    fitted = build_processing_pipeline(with_model_imputers=False).fit(train)
    path = str(tmp_path / "proc_pipe")
    fitted.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    assert [type(s).__name__ for s in loaded.stages] == [
        type(s).__name__ for s in fitted.stages
    ]
    _frame_equal(fitted.transform(valid), loaded.transform(valid))


def test_model_imputer_roundtrip(spark, loans, tmp_path):
    train, valid = loans
    # small fast imputer: predict AREA from the raw numeric columns
    imp = ModelImputer(targetCol="AREA", sentinel="Missing", numTrees=5, maxDepth=3)
    model = imp.fit(train)
    path = str(tmp_path / "imp")
    model.write().overwrite().save(path)
    loaded = ModelImputerModel.load(path)
    a = model.transform(valid).select("AREA")
    b = loaded.transform(valid).select("AREA")
    _frame_equal(a, b)
    # no sentinel survives
    assert b.filter(F.col("AREA") == "Missing").count() == 0


def test_model_imputer_pipeline_roundtrip_synthetic(spark, tmp_path):
    """A ModelImputer fitted inside a Pipeline must reload through
    ``PipelineModel.load``: the stage writes MLlib ``metadata/`` (the
    class name the pipeline reader dispatches on) next to its spec and
    inner model. The default single forest and a two-member seed bag both
    round-trip. Synthetic frame, so this runs on any host."""
    from pyspark.ml import Pipeline

    rows = []
    for i in range(60):
        x = float(i % 10)
        label = "lo" if x < 5 else "hi"
        rows.append((i, x, float(i % 3), "Missing" if i % 7 == 0 else label))
    df = spark.createDataFrame(rows, "id long, x double, z double, cat string")
    for bag in (1, 2):
        fitted = Pipeline(
            stages=[
                ModelImputer(
                    targetCol="cat", sentinel="Missing", numTrees=5, maxDepth=3,
                    seedBag=bag,
                )
            ]
        ).fit(df)
        path = str(tmp_path / f"imp_pipe_{bag}")
        fitted.write().overwrite().save(path)
        loaded = PipelineModel.load(path)
        assert type(loaded.stages[0]).__name__ == "ModelImputerModel"
        assert loaded.stages[0].spec == fitted.stages[0].spec
        a = fitted.transform(df)
        b = loaded.transform(df)
        _frame_equal(a, b)
        assert b.filter(F.col("cat") == "Missing").count() == 0
