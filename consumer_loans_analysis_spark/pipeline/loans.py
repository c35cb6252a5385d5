"""The loans processing + feature-engineering pipelines (EP1/EP2).

Stage-for-stage re-expression of the reference's fitted sklearn pipelines as
one MLlib Pipeline each. Configuration extracted from
eda_processing.ipynb:2085-2236 (processing) and
feature_engineering.ipynb:283-374,578-599 (features); citations per stage in
stages.py docstrings.

The transform path of BOTH pipelines is a pure projection over the scan —
fit-state enters as literals, so Catalyst collapses every stage into one
whole-stage-codegen'd select (verified in tests/test_loans_pipeline.py). The
only shuffling work is in the fits (quantiles, modes, distincts, forest
training) — exactly the property that makes this run at 100 TB. No stage
puts a uid or other per-fit name into its plan, so a refit on the same data
generates the same source and Spark reuses the compiled code: a second
fit + score + CV round compiles no class
(``test_loans_second_round_compiles_nothing``).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.sql import DataFrame

from consumer_loans_analysis_spark.pipeline.combiner import CorrMaxCombiner
from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer
from consumer_loans_analysis_spark.pipeline.stages import (
    AccountMerger,
    BucketOrdinalEncoder,
    ColumnDropper,
    ColumnRenamer,
    IQRWinsorizer,
    Log1pTransformer,
    NamedOneHotEncoder,
    NonZeroToDouble,
    OrdinalLadderEncoder,
    RatioFeatures,
    ScalarStandardScaler,
    SentinelModeImputer,
)

# Exact reference orders/vocabularies (processing.py:19-43, 112-136).
EDUCATION_LADDER = [
    "Primary school",
    "Middle school",
    "Highschool",
    "Other",
    "Post secondary school",
    "Vocational school",
    "College",
    "University",
    "Post-graduate",
]

EMPLOYEE_NO_MAP = {
    "between 0-10": 0,
    "between 11-20": 1,
    "between 21-50": 2,
    "between 51-100": 3,
    "between 101-250": 4,
    "between 251-500": 5,
    "between 501-1.000": 6,
    "> 1.000": 7,
}

WINSORIZE_COLS = [
    "AGE",
    "HOUSEHOLD_MEMBERS",
    "INCOME",
    "WORK_SENIORITY",
    "BUSINESS_AGE",
    "LENGTH_RELATIONSHIP_WITH_CLIENT",
]

LOG_COLS = ["INCOME", "WORK_SENIORITY", "BUSINESS_AGE", "LENGTH_RELATIONSHIP_WITH_CLIENT"]
SCALE_COLS = LOG_COLS + ["AGE"]

RATIOS = {
    "LENGTH_RELATIONSHIP_WITH_CLIENT_TO_WORK_SENIORITY": ["LENGTH_RELATIONSHIP_WITH_CLIENT", "WORK_SENIORITY"],
    "INCOME_TO_WORK_SENIORITY_RATIO": ["INCOME", "WORK_SENIORITY"],
    # yes, /WORK_SENIORITY — the reference's name is a misnomer (engineering.py:67)
    "BUSINESS_AGE_TO_AGE_RATIO": ["BUSINESS_AGE", "WORK_SENIORITY"],
    "LENGTH_RELATIONSHIP_WITH_CLIENT_TO_BUSINESS_AGE": ["LENGTH_RELATIONSHIP_WITH_CLIENT", "BUSINESS_AGE"],
    "INCOME_TO_LENGTH_RELATIONSHIP_WITH_CLIENT": ["INCOME", "LENGTH_RELATIONSHIP_WITH_CLIENT"],
}

TOTAL_SCORE_COLS = [
    "INCOME",
    "WORK_SENIORITY",
    "BUSINESS_AGE",
    "LENGTH_RELATIONSHIP_WITH_CLIENT",
    "AGE",
    "EDUCATION",
    "HAS_DEPENDENTS",
    "MARITAL_STATUS_married",
    "MARITAL_STATUS_single",
    "RESIDENTIAL_PLACE_Owner without mortgage",
]


def build_processing_pipeline(with_model_imputers: bool = True) -> Pipeline:
    """EP1: raw loans table → processed table (49 numeric columns).

    Stage order mirrors ProcessingTransformer((rename_ct, num_ct, cat_ct,
    log_scaler, numeric_scaler)) + nested (economic_pipeline,
    employee_pipeline) — eda_processing.ipynb:2225-2236, 2730-2736.
    """
    stages = [
        ColumnRenamer(renames={"BUSINESS AGE": "BUSINESS_AGE", "NO_OF_DEPENDENTS": "HAS_DEPENDENTS"}),
        IQRWinsorizer(cols=WINSORIZE_COLS),
        ColumnDropper(cols=["SAVING_ACCOUNT", "FOREIGN_ACCOUNT", "DEPOSIT", "PENSION_FUNDS", "DEFAULT_FLAG"]),
        SentinelModeImputer(cols=["EDUCATION", "AREA"]),
        OrdinalLadderEncoder(inputCol="EDUCATION", ladder=EDUCATION_LADDER),
        NonZeroToDouble(cols=["HAS_DEPENDENTS"]),
        NamedOneHotEncoder(cols=["AREA", "PRODUCT", "RESIDENTIAL_PLACE", "MARITAL_STATUS"]),
        Log1pTransformer(cols=LOG_COLS),
        ScalarStandardScaler(cols=SCALE_COLS),
    ]
    if with_model_imputers:
        stages += [
            # ECONOMIC_SECTOR: model-impute the sentinel, then one-hot
            # (MyImputer + OneHotEncoder(handle_unknown='ignore'),
            # eda_processing.ipynb:2423-2498)
            ModelImputer(targetCol="ECONOMIC_SECTOR", sentinel="Missing"),
            NamedOneHotEncoder(cols=["ECONOMIC_SECTOR"], excludeValues=["Missing"]),
            # EMPLOYEE_NO: bucket-ordinal (null for Missing), model-impute
            # (EmployeePartialTransformer + MyImputer,
            # eda_processing.ipynb:2666-2728)
            BucketOrdinalEncoder(inputCol="EMPLOYEE_NO", outputCol="EMPLOYEE_NO_NUM", mapping=EMPLOYEE_NO_MAP),
            ModelImputer(targetCol="EMPLOYEE_NO_NUM", sentinel=None, excludePrefixes=["ECONOMIC_SECTOR_"]),
        ]
    else:
        stages += [
            ColumnDropper(cols=["ECONOMIC_SECTOR", "EMPLOYEE_NO"]),
        ]
    return Pipeline(stages=stages)


def build_feature_pipeline() -> Pipeline:
    """EP2 tail: processed table → featured table (55 columns).

    Pipeline([CreateHasCurrentAccountColumn, CreateAdditionalFeatures,
    FeatureCorrelationEngineer]) — feature_engineering.ipynb:578-599.
    Note the ratios run on the *z-scored* processed values — the reference's
    exact (odd) ordering (SURVEY §7.4#2).
    """
    return Pipeline(
        stages=[
            AccountMerger(),
            RatioFeatures(ratios=RATIOS),
            CorrMaxCombiner(cols=TOTAL_SCORE_COLS, targetCol="FINALIZED_LOAN", newName="TOTAL_SCORE"),
        ]
    )


def fit_full_pipeline(train: DataFrame, with_model_imputers: bool = True) -> tuple[PipelineModel, PipelineModel]:
    """Fit EP1 then EP2 (tail fitted on the processed train — the frozen-root
    EngineeringTransformer composition C5, engineering.py:81-103)."""
    processing = build_processing_pipeline(with_model_imputers).fit(train)
    processed = processing.transform(train)
    features = build_feature_pipeline().fit(processed)
    return processing, features
