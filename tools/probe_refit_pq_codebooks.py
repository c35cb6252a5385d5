"""Re-fit and re-pin the sim5c PQ sub-codebooks.

Run this ONLY after the driver regenerates the testdata embeddings (the
pinned codebooks in ``operators/pq_codebooks.py`` are a frozen artifact
of the sf0.01 embeddings — see that module's provenance note). One
command restores the pin:

    python -m tools.probe_refit_pq_codebooks [sf_dir]

It re-runs the exact fit ``similarity.pq_topk`` performs when no
codebooks are passed (the unit-normalized hash-smallest 16384-row
``similarity._fit_sample``, per-subspace seeded numpy k-means++/Lloyd
with seed 42+s) at sim5's m_subs=16 / ks=64 config, rewrites the module
with the new literals, and prints a reminder to re-verify sim5c.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators.similarity import _fit_sample, _kmeanspp_lloyd
from consumer_loans_analysis_spark.session import get_spark
from consumer_loans_analysis_spark.sources.readers import read_table

M_SUBS, KS, SEED, FIT_SAMPLE = 16, 64, 42, 16384
MODULE = "consumer_loans_analysis_spark/operators/pq_codebooks.py"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("refit_pq_codebooks")
    emb = read_table(spark, sf_dir, "embeddings")
    Xs = _fit_sample(emb.filter(F.col("vec_id") >= 5), fit_sample=FIT_SAMPLE)
    dsub = Xs.shape[1] // M_SUBS
    cb = [
        [
            [float(x) for x in cw]
            for cw in _kmeanspp_lloyd(Xs[:, s * dsub:(s + 1) * dsub], KS, SEED + s)
        ]
        for s in range(M_SUBS)
    ]

    with open(MODULE) as fh:
        src = fh.read()
    head = src.split("PQ_CODEBOOKS", 1)[0]
    subs = []
    for s in range(M_SUBS):
        rows = "\n".join(
            "        [" + ", ".join(repr(x) for x in cw) + "]," for cw in cb[s]
        )
        subs.append(f"    [  # subspace {s}\n{rows}\n    ],")
    with open(MODULE, "w") as fh:
        fh.write(
            head + "PQ_CODEBOOKS: list[list[list[float]]] = [\n"
            + "\n".join(subs) + "\n]\n"
        )
    print(
        f"re-pinned {M_SUBS}x{KS} codebooks from {sf_dir} into {MODULE}; now run:\n"
        "  python verify_local.py /root/testdata/sf0.01 sim5c_pq_pinned_topk"
    )


if __name__ == "__main__":
    main()
