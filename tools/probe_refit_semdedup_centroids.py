"""Re-fit and re-pin the d11b SemDeDup blocker centroids.

Run this ONLY after the driver regenerates the testdata embeddings (the
pinned centroids in ``operators/semdedup_centroids.py`` are a frozen
artifact of the sf0.01 embeddings — see that module's provenance note).
One command restores the pin:

    python -m tools.probe_refit_semdedup_centroids [sf_dir]

It re-runs the exact featurization + fit the pin documents (spherical
MLlib KMeans, k=8, seed=42, L2-normalized ``embeddings``), rewrites the
module with the new literals, and prints a reminder to re-verify d11b.
"""

from __future__ import annotations

import sys

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.session import get_spark
from consumer_loans_analysis_spark.sources.readers import read_table

N_CLUSTERS, SEED = 8, 42
MODULE = "consumer_loans_analysis_spark/operators/semdedup_centroids.py"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("refit_semdedup_centroids")
    emb = read_table(spark, sf_dir, "embeddings")
    unit = F.transform(
        F.col("embedding"),
        lambda x: F.coalesce(
            F.try_divide(
                x.cast("double"),
                F.sqrt(
                    F.aggregate(
                        F.transform(F.col("embedding"), lambda y: y * y),
                        F.lit(0.0),
                        lambda a, y: a + y,
                    )
                ),
            ),
            F.lit(0.0),
        ),
    )
    feats = emb.select("vec_id", array_to_vector(unit).alias("_f"))
    km = KMeans(k=N_CLUSTERS, seed=SEED, featuresCol="_f").fit(feats)
    cents = [[float(x) for x in c] for c in km.clusterCenters()]

    with open(MODULE) as fh:
        src = fh.read()
    head = src.split("SEMDEDUP_CENTROIDS", 1)[0]
    rows = "\n".join(
        "    [" + ", ".join(repr(x) for x in c) + "]," for c in cents
    )
    with open(MODULE, "w") as fh:
        fh.write(head + "SEMDEDUP_CENTROIDS: list[list[float]] = [\n" + rows + "\n]\n")
    print(
        f"re-pinned {N_CLUSTERS} centroids from {sf_dir} into {MODULE}; now run:\n"
        "  python verify_local.py /root/testdata/sf0.01 d11b_semantic_dedup_kmeans"
    )


if __name__ == "__main__":
    main()
