"""Seeded synthetic loans tables with the reference's schema and domains.

The rows follow ``schemas.LOANS_RAW_SCHEMA`` and the value domains of
FIXTURES.md §1: the ``Missing`` sentinel in AREA, EDUCATION,
ECONOMIC_SECTOR and EMPLOYEE_NO, rare categories (PRODUCT A/D, Rental,
Primary school), right-skewed numerics, and the rule
DEBIT_CARD = 1 ⇒ CURRENT_ACCOUNT = 1. The correlations FIXTURES.md lists
(age with marital status, income with education, FINALIZED_LOAN with the
length of the client relationship) are kept so the model stages have
signal to fit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Reference split sizes (FIXTURES.md §1).
SPLIT_ROWS = {"train": 15_097, "valid": 3_235, "test": 3_236}

PRODUCT = {"C": 45, "B": 23, "F": 22, "E": 10, "A": 0.3, "D": 0.1}
AREA = {"County capital": 50, "Rural area": 28, "Urban area": 22, "Missing": 0.2}
RESIDENTIAL_PLACE = {
    "Owner without mortgage": 56,
    "Living with family": 36,
    "Owner with mortgage": 6,
    "Other": 1.6,
    "Rental": 0.2,
}
# listed from lowest to highest level; income rises along this order
EDUCATION = {
    "Primary school": 0.2,
    "Middle school": 1.3,
    "Other": 5,
    "Highschool": 23,
    "Vocational school": 8,
    "Post secondary school": 11,
    "College": 4,
    "University": 36,
    "Post-graduate": 7,
    "Missing": 4.6,
}
MARITAL_STATUS = {"married": 54, "single": 34, "divorced": 7, "widow": 5}
DEPENDENTS = {0: 84, 1: 12.5, 2: 3.4, 3: 0.2, 4: 0.03}
ECONOMIC_SECTOR = {
    "Missing": 26.6,
    "Manufacturing": 20,
    "Wholesale and retail trade": 9,
    "Public administration and defence": 8,
    "Other": 6,
    "Transportation and storage": 5,
    "Human health and social work activities": 4,
    "Information and communication": 3,
    "Education": 3,
    "Professional, scientific and technical activities": 3,
    "Construction": 2,
    "Water supply": 2,
    "Financial and insurance activities": 2,
    "Mining and quarrying": 1.4,
    "Agriculture, hunting and forestry": 1.3,
    "Accommodation and food service activities": 1,
    "Electricity and gas": 1,
    "Real estate activities": 0.5,
}
EMPLOYEE_NO = {
    "Missing": 22,
    "> 1.000": 21,
    "between 501-1.000": 12,
    "between 101-250": 11,
    "between 251-500": 11,
    "between 21-50": 9,
    "between 51-100": 7,
    "between 0-10": 5,
    "between 11-20": 2,
}


def _draw(rng: np.random.Generator, domain: dict, n: int) -> np.ndarray:
    values = list(domain)
    p = np.array([domain[v] for v in values], dtype=float)
    return np.array(values, dtype=object)[rng.choice(len(values), n, p=p / p.sum())]


def _skewed_int(rng, n: int, median: float, sigma: float, lo: int, hi: int) -> np.ndarray:
    return np.clip(np.rint(rng.lognormal(np.log(median), sigma, n)), lo, hi).astype(np.int64)


def generate_split(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """One raw loans table of ``n`` rows, columns in LOANS_RAW_SCHEMA order."""
    age = np.clip(np.rint(rng.normal(43.6, 13.5, n)), 19, 74).astype(np.int64)
    # older applicants are more often married or widowed
    marital = _draw(rng, MARITAL_STATUS, n)
    old = (age > 55) & (rng.random(n) < 0.35)
    marital[old] = np.where(rng.random(int(old.sum())) < 0.6, "married", "widow")
    young = (age < 28) & (rng.random(n) < 0.4)
    marital[young] = "single"
    education = _draw(rng, EDUCATION, n)
    level = np.array([list(EDUCATION).index(e) for e in education], dtype=float)
    level[education == "Missing"] = 4.0
    # median income ~1426, mean ~1958 at the middle education level
    income = rng.lognormal(np.log(1426.0) + 0.08 * (level - 5.0), 0.79, n)
    income = np.clip(np.round(income, 1), 0.0, 40621.6)
    rel_len = _skewed_int(rng, n, 2.0, 1.3, 1, 110)
    debit = (rng.random(n) < 0.384).astype(np.int64)
    # P(account | no card) keeps P(account) at the reference's 0.485
    current = np.where(debit == 1, 1, (rng.random(n) < 0.164).astype(np.int64))
    logit = -1.9 + 0.35 * np.log(rel_len) + 0.3 * (debit - 0.384)
    finalized = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int64)
    members = np.clip(rng.poisson(0.72, n) + 1, 1, 5).astype(np.int64)
    return pd.DataFrame(
        {
            "PRODUCT": _draw(rng, PRODUCT, n),
            "AGE": age,
            "AREA": _draw(rng, AREA, n),
            "RESIDENTIAL_PLACE": _draw(rng, RESIDENTIAL_PLACE, n),
            "EDUCATION": education,
            "MARITAL_STATUS": marital,
            "HOUSEHOLD_MEMBERS": members,
            "NO_OF_DEPENDENTS": _draw(rng, DEPENDENTS, n).astype(np.int64),
            "INCOME": income,
            "WORK_SENIORITY": _skewed_int(rng, n, 5.0, 0.9, 1, 46),
            "BUSINESS AGE": _skewed_int(rng, n, 16.0, 0.8, 1, 116),
            "ECONOMIC_SECTOR": _draw(rng, ECONOMIC_SECTOR, n),
            "EMPLOYEE_NO": _draw(rng, EMPLOYEE_NO, n),
            "LENGTH_RELATIONSHIP_WITH_CLIENT": rel_len,
            "DEBIT_CARD": debit,
            "CURRENT_ACCOUNT": current,
            "SAVING_ACCOUNT": (rng.random(n) < 0.0004).astype(np.int64),
            "SALARY_ACCOUNT": (rng.random(n) < 0.123).astype(np.int64),
            "FOREIGN_ACCOUNT": (rng.random(n) < 0.0001).astype(np.int64),
            "FINALIZED_LOAN": finalized,
            "DEPOSIT": (rng.random(n) < 0.004).astype(np.int64),
            "PENSION_FUNDS": np.zeros(n, dtype=np.int64),
            "DEFAULT_FLAG": (rng.random(n) < 0.05).astype(np.int64),
        }
    )


def generate(seed: int, sizes: dict[str, int] | None = None) -> dict[str, pd.DataFrame]:
    """Train/valid/test raw tables; the same seed gives the same frames."""
    rng = np.random.default_rng(seed)
    return {name: generate_split(rng, n) for name, n in (sizes or SPLIT_ROWS).items()}
