"""Result checks: the oracle compare and the declared non-oracle checks.

Each check returns ``None`` when the result is right and a one-line reason
when it is not, so a failed op keeps its place in the run and is counted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from verify_local import canon_pdf


def compare_canonical(got: pd.DataFrame, expected: list[str], expected_cols: list[str]) -> str | None:
    """verify_local's compare: sorted column names, row count, then the
    order-insensitive canonical rows (floats rounded to 6 decimals)."""
    if sorted(got.columns) != sorted(expected_cols):
        return f"columns {sorted(got.columns)} != {sorted(expected_cols)}"
    if len(got) != len(expected):
        return f"rowcount {len(got)} != {len(expected)}"
    canon = canon_pdf(got)
    if canon != expected:
        bad = next((a, b) for a, b in zip(canon, expected) if a != b)
        return f"value mismatch, e.g. {bad}"
    return None


def check_pq_topk(got: pd.DataFrame, embeddings: pd.DataFrame, n_queries: int, k: int) -> str | None:
    """sim5_pq_topk has no oracle (its codebooks come from a seeded k-means).
    Every query id below ``n_queries`` must get exactly ``k`` rows ranked
    1..k in descending ``cos``, and each ``cos`` must be the exact cosine of
    its pair (the query rounds to 6 decimals, so the tolerance is 1e-6)."""
    vecs = np.stack(embeddings.sort_values("vec_id")["embedding"].to_numpy()).astype(np.float64)
    ids = embeddings.sort_values("vec_id")["vec_id"].to_numpy()
    if not np.array_equal(ids, np.arange(len(ids))):
        return "embeddings vec_id is not 0..n-1"
    if sorted(got["query_id"].unique()) != list(range(n_queries)):
        return f"query ids {sorted(got['query_id'].unique())} != 0..{n_queries - 1}"
    for qid, rows in got.groupby("query_id"):
        rows = rows.sort_values("rank")
        if rows["rank"].tolist() != list(range(1, k + 1)):
            return f"query {qid}: ranks {rows['rank'].tolist()}"
        cos = rows["cos"].to_numpy()
        if np.any(np.diff(cos) > 0):
            return f"query {qid}: cos not descending by rank {cos.tolist()}"
        q = vecs[int(qid)]
        nb = vecs[rows["neighbor_id"].to_numpy()]
        exact = nb @ q / (np.linalg.norm(nb, axis=1) * np.linalg.norm(q))
        err = np.abs(exact - cos)
        if err.max() > 1e-6:
            i = int(err.argmax())
            return f"query {qid}: cos {cos[i]} != exact {exact[i]:.9f}"
    return None
