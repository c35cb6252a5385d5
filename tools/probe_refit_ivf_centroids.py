"""Re-fit and re-pin the sim3b IVF coarse-quantizer centroids.

Run this ONLY after the driver regenerates the testdata embeddings (the
pinned centroids in ``operators/ivf_centroids.py`` are a frozen artifact
of the sf0.01 embeddings — see that module's provenance note). One
command restores the pin:

    python -m tools.probe_refit_ivf_centroids [sf_dir]

It re-runs the exact fit ``similarity.ivf_topk`` performs when no
centroids are passed (the unit-normalized hash-smallest 16384-row
``similarity._fit_sample``, seeded numpy k-means++/Lloyd with
k=8/seed=42), rewrites the module with the new literals, and prints a
reminder to re-verify sim3b.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators.similarity import _fit_sample, _kmeanspp_lloyd
from consumer_loans_analysis_spark.session import get_spark
from consumer_loans_analysis_spark.sources.readers import read_table

N_LISTS, SEED, FIT_SAMPLE = 8, 42, 16384
MODULE = "consumer_loans_analysis_spark/operators/ivf_centroids.py"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("refit_ivf_centroids")
    emb = read_table(spark, sf_dir, "embeddings")
    Xs = _fit_sample(emb.filter(F.col("vec_id") >= 5), fit_sample=FIT_SAMPLE)
    cents = [[float(x) for x in c] for c in _kmeanspp_lloyd(Xs, N_LISTS, SEED)]

    with open(MODULE) as fh:
        src = fh.read()
    head = src.split("IVF_CENTROIDS", 1)[0]
    rows = "\n".join("    [" + ", ".join(repr(x) for x in c) + "]," for c in cents)
    with open(MODULE, "w") as fh:
        fh.write(head + "IVF_CENTROIDS: list[list[float]] = [\n" + rows + "\n]\n")
    print(
        f"re-pinned {N_LISTS} centroids from {sf_dir} into {MODULE}; now run:\n"
        "  python verify_local.py /root/testdata/sf0.01 sim3b_ivf_pinned_topk"
    )


if __name__ == "__main__":
    main()
