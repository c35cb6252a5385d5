"""Re-fit and re-pin the d11b SemDeDup blocker centroids.

Run this ONLY after the driver regenerates the testdata embeddings (the
pinned centroids in ``operators/semdedup_centroids.py`` are a frozen
artifact of the sf0.01 embeddings — see that module's provenance note).
One command restores the pin:

    python -m tools.probe_refit_semdedup_centroids [sf_dir]

It re-runs the exact fit ``curation.semantic_dedup(blocker="kmeans")``
performs when no centroids are passed (the unit-normalized hash-smallest
16384-row ``similarity._fit_sample``, seeded numpy k-means++/Lloyd), with
k=8/seed=42, rewrites the module with the new literals, and prints a
reminder to re-verify d11b, o14 and dq4.
"""

from __future__ import annotations

import sys

from consumer_loans_analysis_spark.operators.similarity import _fit_sample, _kmeanspp_lloyd
from consumer_loans_analysis_spark.session import get_spark
from consumer_loans_analysis_spark.sources.readers import read_table

N_CLUSTERS, SEED = 8, 42
MODULE = "consumer_loans_analysis_spark/operators/semdedup_centroids.py"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("refit_semdedup_centroids")
    Xs = _fit_sample(read_table(spark, sf_dir, "embeddings"))
    cents = [[float(x) for x in c] for c in _kmeanspp_lloyd(Xs, N_CLUSTERS, SEED)]

    with open(MODULE) as fh:
        src = fh.read()
    head = src.split("SEMDEDUP_CENTROIDS", 1)[0]
    rows = "\n".join("    [" + ", ".join(repr(x) for x in c) + "]," for c in cents)
    with open(MODULE, "w") as fh:
        fh.write(head + "SEMDEDUP_CENTROIDS: list[list[float]] = [\n" + rows + "\n]\n")
    print(
        f"re-pinned {N_CLUSTERS} centroids from {sf_dir} into {MODULE}; now run:\n"
        f"  python verify_local.py {sf_dir} d11b_semantic_dedup_kmeans"
        " o14_cluster_balanced_sample dq4_embedding_outliers"
    )


if __name__ == "__main__":
    main()
