"""Pandas oracle and invariants for the loans pipeline (EP1 + EP2).

The deterministic fit-state of EP1 (IQR winsorizer bounds from exact
percentiles, sentinel-aware modes, one-hot vocabularies, log1p then
population-std scaling) is recomputed here from the raw train frame with
pandas and compared with what the engine fitted, to 1e-9. Scored frames are
checked for the FIXTURES.md §2/§3 column sets, for nulls and NaNs, and for
one-hot blocks that each sum to 1. EP2 is checked against pandas too: the
ratio columns and TOTAL_SCORE row by row, and the CorrMaxCombiner's fitted
mean, std and correlation on the train split. CV fold metrics are checked
for agreement with one confusion matrix per fold; the fold predictions
themselves are not recomputed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from consumer_loans_analysis_spark.pipeline.loans import EDUCATION_LADDER, LOG_COLS, SCALE_COLS, WINSORIZE_COLS

TOL = 1e-9
ONEHOT_PREFIXES = ["AREA_", "PRODUCT_", "RESIDENTIAL_PLACE_", "MARITAL_STATUS_", "HAS_CURRENT_ACCOUNT_"]
ECON_VALUES = [
    "Accommodation and food service activities",
    "Agriculture, hunting and forestry",
    "Construction",
    "Education",
    "Electricity and gas",
    "Financial and insurance activities",
    "Human health and social work activities",
    "Information and communication",
    "Manufacturing",
    "Mining and quarrying",
    "Other",
    "Professional, scientific and technical activities",
    "Public administration and defence",
    "Real estate activities",
    "Transportation and storage",
    "Water supply",
    "Wholesale and retail trade",
]
# FIXTURES.md §2 (loans_processed), without the two model-imputed blocks.
PROCESSED_BASE = (
    ["INCOME", "WORK_SENIORITY", "BUSINESS_AGE", "LENGTH_RELATIONSHIP_WITH_CLIENT", "AGE", "EDUCATION"]
    + [f"AREA_{v}" for v in ["County capital", "Rural area", "Urban area"]]
    + ["HAS_DEPENDENTS"]
    + [f"PRODUCT_{v}" for v in "ABCDEF"]
    + [
        f"RESIDENTIAL_PLACE_{v}"
        for v in ["Living with family", "Other", "Owner with mortgage", "Owner without mortgage", "Rental"]
    ]
    + [f"MARITAL_STATUS_{v}" for v in ["divorced", "married", "single", "widow"]]
    + ["HOUSEHOLD_MEMBERS", "DEBIT_CARD", "CURRENT_ACCOUNT", "SALARY_ACCOUNT", "FINALIZED_LOAN"]
)
PROCESSED_IMPUTED = ["EMPLOYEE_NO_NUM"] + [f"ECONOMIC_SECTOR_{v}" for v in ECON_VALUES]
# FIXTURES.md §3 ratios, name -> (numerator, denominator), over the
# standardized columns; BUSINESS_AGE_TO_AGE_RATIO divides by WORK_SENIORITY,
# as the reference does.
RATIOS = {
    "LENGTH_RELATIONSHIP_WITH_CLIENT_TO_WORK_SENIORITY": ("LENGTH_RELATIONSHIP_WITH_CLIENT", "WORK_SENIORITY"),
    "INCOME_TO_WORK_SENIORITY_RATIO": ("INCOME", "WORK_SENIORITY"),
    "BUSINESS_AGE_TO_AGE_RATIO": ("BUSINESS_AGE", "WORK_SENIORITY"),
    "LENGTH_RELATIONSHIP_WITH_CLIENT_TO_BUSINESS_AGE": ("LENGTH_RELATIONSHIP_WITH_CLIENT", "BUSINESS_AGE"),
    "INCOME_TO_LENGTH_RELATIONSHIP_WITH_CLIENT": ("INCOME", "LENGTH_RELATIONSHIP_WITH_CLIENT"),
}
RATIO_COLS = list(RATIOS)
# The CorrMaxCombiner's inputs (FIXTURES.md §3 TOTAL_SCORE).
TOTAL_SCORE_COLS = SCALE_COLS + [
    "EDUCATION", "HAS_DEPENDENTS", "MARITAL_STATUS_married", "MARITAL_STATUS_single",
    "RESIDENTIAL_PLACE_Owner without mortgage",
]


def featured_columns(base: list[str]) -> list[str]:
    """FIXTURES.md §3: the processed columns ``base`` minus the account
    flags, plus the account one-hot block, the five ratios and TOTAL_SCORE."""
    return (
        [c for c in base if c not in ("DEBIT_CARD", "CURRENT_ACCOUNT")]
        + [f"HAS_CURRENT_ACCOUNT_{v}" for v in ["no", "with debit card", "without debit card"]]
        + RATIO_COLS
        + ["TOTAL_SCORE"]
    )


def expected_state(train: pd.DataFrame) -> dict:
    """EP1's deterministic fit-state, recomputed with pandas."""
    df = train.rename(columns={"BUSINESS AGE": "BUSINESS_AGE"})
    bounds = {}
    for c in WINSORIZE_COLS:
        q1, q3 = df[c].astype(float).quantile([0.25, 0.75], interpolation="linear")
        bounds[c] = [q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)]
        df[c] = df[c].astype(float).clip(bounds[c][0], bounds[c][1])
    modes = {}
    for c in ["EDUCATION", "AREA"]:
        counts = df.loc[df[c] != "Missing", c].value_counts()
        modes[c] = min(counts.index[counts == counts.max()])
    vocab = {c: sorted(df[c].unique()) for c in ["PRODUCT", "RESIDENTIAL_PLACE", "MARITAL_STATUS"]}
    vocab["AREA"] = sorted(df["AREA"].replace("Missing", modes["AREA"]).unique())
    for c in LOG_COLS:
        df[c] = np.log1p(df[c])
    stats = {c: [df[c].mean(), df[c].std(ddof=0)] for c in SCALE_COLS}
    return {"bounds": bounds, "modes": modes, "vocab": vocab, "stats": stats}


def _close(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)
    return a == b


def fitted_state(processing) -> dict:
    """The same four pieces of state, read from a fitted EP1 PipelineModel."""
    by_name = {}
    for stage in processing.stages:
        by_name.setdefault(type(stage).__name__, []).append(stage)

    def param(stage, name):
        return stage._get_json(stage.getParam(name))

    return {
        "bounds": param(by_name["IQRWinsorizerModel"][0], "bounds"),
        "modes": param(by_name["SentinelModeImputerModel"][0], "modes"),
        "vocab": param(by_name["NamedOneHotEncoderModel"][0], "vocab"),
        "stats": param(by_name["ScalarStandardScalerModel"][0], "stats"),
    }


def check_fit(processing, want: dict) -> str | None:
    """Compare the engine's fit-state with ``expected_state`` of the train."""
    got = fitted_state(processing)
    for key in want:
        if not _close(want[key], got[key]):
            return f"fitted {key} {got[key]} != pandas {want[key]}"
    return None


def check_scored(scored: pd.DataFrame, columns: list[str], labels: dict[str, list] | None = None) -> str | None:
    """Column set, no null/NaN, one-hot partition of unity, and (for the
    model-imputed blocks) imputed values drawn from the fitted label set."""
    if sorted(scored.columns) != sorted(columns):
        extra = sorted(set(scored.columns) - set(columns))
        missing = sorted(set(columns) - set(scored.columns))
        return f"columns differ: extra {extra} missing {missing}"
    if scored.isna().any().any():
        return f"null/NaN in {scored.columns[scored.isna().any()].tolist()}"
    prefixes = ONEHOT_PREFIXES + (["ECONOMIC_SECTOR_"] if "ECONOMIC_SECTOR_Other" in columns else [])
    for p in prefixes:
        block = scored[[c for c in scored.columns if c.startswith(p)]]
        if not (block.sum(axis=1) == 1.0).all():
            return f"one-hot block {p}* does not sum to 1 on every row"
    for col, allowed in (labels or {}).items():
        bad = set(scored[col].unique()) - set(allowed)
        if bad:
            return f"{col} holds values outside the fitted labels: {sorted(bad)[:5]}"
    return None


def check_cv(folds: pd.DataFrame, train: pd.DataFrame, k: int) -> str | None:
    """Fold count, fold sizes summing to the train set, positives summing to
    the train set's positives, and per fold one confusion matrix (rebuilt
    from the supports, recall and accuracy) that yields every reported
    metric."""
    if sorted(folds["fold"]) != list(range(k)):
        return f"folds {sorted(folds['fold'])} != 0..{k - 1}"
    if int(folds["support_pos"].sum() + folds["support_neg"].sum()) != len(train):
        return "fold supports do not add up to the train rows"
    if int(folds["support_pos"].sum()) != int(train["FINALIZED_LOAN"].sum()):
        return "fold positives do not add up to the train positives"
    for f in folds.to_dict("records"):
        pos, neg = f["support_pos"], f["support_neg"]
        tp = f["recall"] * pos
        tn = f["accuracy"] * (pos + neg) - tp
        fp = neg - tn
        counts = np.array([tp, tn, fp, pos - tp])
        if (counts < -1e-6).any() or not np.allclose(counts, np.round(counts), atol=1e-6):
            return f"fold {f['fold']}: accuracy and recall give no integer confusion matrix"
        tp, tn, fp = round(tp), round(tn), round(fp)
        p = tp / (tp + fp) if tp + fp else 0.0
        r = f["recall"]
        want = {
            "precision": p,
            "f1": 2 * p * r / (p + r) if p + r else 0.0,
            "roc_auc_hard": (1 + r - (fp / neg if neg else 0.0)) / 2,
            "micro_f1": f["accuracy"],
        }
        for m, v in want.items():
            if not math.isclose(f[m], v, rel_tol=TOL, abs_tol=TOL):
                return f"fold {f['fold']}: {m} {f[m]} != {v} from its confusion matrix"
    return None


def processed(raw: pd.DataFrame, state: dict) -> pd.DataFrame:
    """EP1's output for the TOTAL_SCORE inputs, computed with pandas from a
    raw split and the pandas fit-state, row-aligned with ``raw``."""
    df = raw.rename(columns={"BUSINESS AGE": "BUSINESS_AGE"})
    out = pd.DataFrame(index=df.index)
    for c in SCALE_COLS:
        lo, hi = state["bounds"][c]
        x = df[c].astype(float).clip(lo, hi)
        if c in LOG_COLS:
            x = np.log1p(x)
        mu, sd = state["stats"][c]
        out[c] = (x - mu) / sd
    ladder = EDUCATION_LADDER
    edu = df["EDUCATION"].replace("Missing", state["modes"]["EDUCATION"])
    out["EDUCATION"] = edu.map(lambda v: ladder.index(v) / len(ladder))
    out["HAS_DEPENDENTS"] = (df["NO_OF_DEPENDENTS"] != 0).astype(float)
    for c in TOTAL_SCORE_COLS:
        for base in ("MARITAL_STATUS", "RESIDENTIAL_PLACE"):
            if c.startswith(base + "_"):
                out[c] = (df[base] == c[len(base) + 1:]).astype(float)
    return out


def check_standardized(scored: pd.DataFrame, raw: pd.DataFrame, state: dict) -> str | None:
    """The scaled numerics and the education ordinal, recomputed with pandas
    from the raw split and the pandas fit-state (compared per column as
    sorted values, so row order does not matter)."""
    want_frame = processed(raw, state)
    for c in SCALE_COLS + ["EDUCATION"]:
        want = np.sort(want_frame[c].to_numpy())
        got = np.sort(scored[c].to_numpy())
        if not np.allclose(got, want, rtol=TOL, atol=TOL):
            return f"{c}: values differ from pandas (max err {np.abs(got - want).max():.3g})"
    return None


def weighted_sum(x: pd.DataFrame, spec: dict) -> np.ndarray:
    """Σ wᵢ·colᵢ, summed in the combiner's column order."""
    total = np.zeros(len(x))
    for c, w in zip(spec["cols"], spec["weights"]):
        total = total + x[c].to_numpy() * w
    return total


def combiner_spec(features) -> dict:
    stage = features.stages[-1]
    return stage._get_json(stage.getParam("spec"))


def check_combiner(features, train: pd.DataFrame, state: dict) -> str | None:
    """The fitted CorrMaxCombiner against pandas on the train split: its
    inputs, its mean and population std of Σ w·x (so the train TOTAL_SCORE
    has mean 0 and std 1), and the |corr| it reports, which must be no lower
    than at its start point w = 1."""
    spec = combiner_spec(features)
    if list(spec["cols"]) != TOTAL_SCORE_COLS:
        return f"TOTAL_SCORE inputs {spec['cols']} != {TOTAL_SCORE_COLS}"
    x = processed(train, state)
    y = train["FINALIZED_LOAN"].astype(float).to_numpy()
    z = weighted_sum(x, spec)
    corr = abs(np.corrcoef(z, y)[0, 1])
    start = abs(np.corrcoef(x[TOTAL_SCORE_COLS].to_numpy().sum(axis=1), y)[0, 1])
    for key, want in [("mean", z.mean()), ("std", z.std(ddof=0)), ("achieved_corr", corr)]:
        if not math.isclose(spec[key], want, rel_tol=TOL, abs_tol=TOL):
            return f"TOTAL_SCORE {key} {spec[key]} != pandas {want}"
    if corr < start - TOL:
        return f"TOTAL_SCORE |corr| {corr} is below its start point's {start}"
    return None


def check_features(scored: pd.DataFrame, features) -> str | None:
    """Each row's ratio columns and TOTAL_SCORE, recomputed with pandas from
    the same row's standardized columns and the fitted combiner spec."""
    for name, (num, den) in RATIOS.items():
        want = scored[num].to_numpy() / scored[den].to_numpy()
        if not np.allclose(scored[name].to_numpy(), want, rtol=TOL, atol=TOL):
            return f"{name} differs from {num} / {den}"
    spec = combiner_spec(features)
    want = (weighted_sum(scored, spec) - spec["mean"]) / spec["std"]
    if not np.allclose(scored["TOTAL_SCORE"].to_numpy(), want, rtol=TOL, atol=TOL):
        return "TOTAL_SCORE differs from (Σ w·x − mean) / std of the fitted spec"
    return None
