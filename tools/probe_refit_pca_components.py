"""Fit + pin the PCA whitening transform for pca1_pinned_whiten.

Fits driver-side on the sf0.01 ``embeddings`` table (the correctness-gate
SF; 500×64 — bounded, exactly like the pq_topk/ivf_topk quantizer fits; at
100 TB this is a hash sample) and FREEZES the result as literals in
``consumer_loans_analysis_spark/operators/pca_components.py`` so the
whitened projection is a deterministic, SQL-expressible function of the
data — the production shape (PCA/whitening matrices are fitted offline and
shipped frozen) and what lets the pca1 oracle restate the projection in
DuckDB over identical IEEE754 doubles.

Determinism: numpy.linalg.eigh on the exact covariance (ascending
eigenvalues — we take the top ``N_COMPONENTS`` reversed); each component's
sign is fixed so its largest-|coordinate| entry is positive (ties → lowest
index). The per-component offset ``c_j = dot(mean, w_j)`` is computed with
the same LEFT-TO-RIGHT accumulation both engines use for the row dots, so
``(v − mean)·w`` and ``v·w − c`` agree by construction of the pin.

Run only after a driver testdata regen:  python -m tools.probe_refit_pca_components
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

SF_DIR = "/root/testdata/sf0.01"
N_COMPONENTS = 8
OUT = "consumer_loans_analysis_spark/operators/pca_components.py"
# chi-square 0.99 quantile, 8 degrees of freedom (whitened coords of a
# well-behaved embedding cloud are ~N(0,1) iid, so maha2 ~ chi2_8)
CHI2_99_8 = 20.090235029663233
# chi-square 0.90 quantile, 8 dof — the query-level flag threshold: this
# synthetic embedding cloud has sub-Gaussian tails (measured: zero rows
# beyond the 0.99 quantile at any SF), so the registered query pins the
# 0.90 quantile instead, the d5/dq3/dq5 threshold-rescaling convention
# (1/32/5 rows flag at sf0.001/0.01/0.1 — both branches exercised).
CHI2_90_8 = 13.361566124143607


def ltr_dot(a: np.ndarray, b: np.ndarray) -> float:
    acc = float(a[0]) * float(b[0])
    for i in range(1, len(a)):
        acc = acc + float(a[i]) * float(b[i])
    return acc


def main() -> None:
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    mean = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:N_COMPONENTS]
    comps, inv_sd = [], []
    for j in order:
        w = evecs[:, j].copy()
        pivot = int(np.argmax(np.abs(w)))
        if w[pivot] < 0:
            w = -w
        comps.append(w)
        inv_sd.append(1.0 / float(np.sqrt(evals[j])))
    offsets = [ltr_dot(mean, w) for w in comps]
    total_var = float(np.trace(cov))
    kept_var = float(sum(evals[j] for j in order))
    print(
        f"fit on {X.shape[0]}x{X.shape[1]}: top-{N_COMPONENTS} variance "
        f"share {kept_var / total_var:.4f}"
    )

    def fmt_vec(v) -> str:
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    lines = [
        '"""Pinned PCA whitening transform (pca1_pinned_whiten).',
        "",
        "Provenance: exact driver-side PCA (numpy eigh on the ddof=1",
        f"covariance) fitted ONCE on the sf0.01 embeddings table, top",
        f"{N_COMPONENTS} components, sign-fixed (largest-|coordinate| entry",
        "positive). Frozen so the whitened projection — and the Mahalanobis",
        "outlier score built on it — is a deterministic SQL-expressible",
        "function of the data; the pca1 oracle restates it in DuckDB over",
        "these same literals. PCA_C[j] is the left-to-right dot of the fitted",
        "mean with component j: both engines compute row dots left-to-right",
        "(Spark aggregate / DuckDB list_dot_product), so (v*w - c) equals the",
        "centered projection bit-for-bit by construction of the pin.",
        "Re-fit with tools/probe_refit_pca_components.py after a testdata regen.",
        '"""',
        "",
        f"PCA_N_COMPONENTS = {N_COMPONENTS}",
        "",
        f"PCA_CHI2_99_8 = {CHI2_99_8!r}",
        "",
        f"PCA_CHI2_90_8 = {CHI2_90_8!r}",
        "",
        "PCA_W: list[list[float]] = [",
        *[f"    {fmt_vec(w)}," for w in comps],
        "]",
        "",
        f"PCA_C: list[float] = {fmt_vec(offsets)}",
        "",
        f"PCA_INV_SD: list[float] = {fmt_vec(inv_sd)}",
        "",
    ]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
