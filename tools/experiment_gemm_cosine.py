"""GEMM-backed cosine pair scoring: experiment (round 10) and, since the
round-11 swap LANDED it in ``operators/similarity.py:cosine_pairs``, the
home of the retained reference twins.

Round-10 question: the brute `cosine_pairs` path and the LSH verify path
both evaluated the per-pair dot as a zip_with/aggregate HOF —
CodegenFallback, interpreted per element. Round 9 moved the norms out of
the pair loop (q95 CPU 88->41 s at sf0.1); the remaining cost WAS the
interpreted dot. Measured answer (committed round 10): the Arrow-batched
numpy GEMM twin produced IDENTICAL rounded result sets (144/144 at sf0.1)
at 0.85 s flat vs 2.76→12.64 s quadratic HOF growth at 2k→8k vectors.

Round 11 landed the GEMM interior as the shipped ``cosine_pairs``, so the
equivalence pin now points the OTHER way: ``hof_cosine_pairs`` below is
the pre-swap HOF implementation, kept verbatim as the independent
reference that tests/test_maintenance.py::
test_gemm_cosine_twin_matches_hof_path compares the shipped path against
(exact rounded-set equality). ``gemm_cosine_pairs`` (the original twin)
stays as a second, shipped-code-independent GEMM articulation.

Run: python tools/experiment_gemm_cosine.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_engineer_capstone_spark.catalog import DEFAULT_SF_DIR, load_table  # noqa: E402
from data_engineer_capstone_spark.operators.similarity import (  # noqa: E402
    cosine_pairs,
)
from data_engineer_capstone_spark.session import get_spark  # noqa: E402

THRESHOLD = 0.45  # the q95 contract


def hof_cosine_pairs(emb, threshold):
    """The pre-round-11 shipped ``cosine_pairs`` interior, verbatim: per-
    vector norms out of the loop, per-pair dot as a zip_with/aggregate HOF
    inside a theta self-join. Retained as the independent numeric
    reference for the GEMM equivalence pin (every sum strictly
    left-to-right, pure Catalyst, no Python boundary)."""
    from data_engineer_capstone_spark.functions.vectors import dot, norm
    from data_engineer_capstone_spark.operators.dedup import _spread

    a = _spread(emb, ["vec_id", "embedding"]).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.floor(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def gemm_cosine_pairs(spark, emb, threshold):
    """GEMM twin: same output contract as cosine_pairs (id_a < id_b,
    cos_sim = floor(dot/(na*nb)*1e6 + 0.5)/1e6 >= threshold).

    The full (id, vec) matrix rides a Spark broadcast variable in
    float64; each Arrow batch of the spread side computes one
    block @ M.T. Bounded-n contract unchanged (the broadcast is the
    explicit bound, exactly like the queries-side broadcast in
    brute_force_topk).
    """
    rows = emb.select("vec_id", "embedding").collect()  # bounded-n contract
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = a_mat @ b_mat.T
            sims /= np.sqrt((a_mat * a_mat).sum(axis=1))[:, None]
            sims /= b_norms[None, :]
            sims = np.floor(sims * 1_000_000 + 0.5) / 1_000_000
            ai, bi = np.nonzero(
                (a_ids[:, None] < b_ids[None, :]) & (sims >= threshold)
            )
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": b_ids[bi],
                    "cos_sim": sims[ai, bi],
                }
            )

    from data_engineer_capstone_spark.operators.dedup import _spread

    spread = _spread(emb, ["vec_id", "embedding"])
    return spread.mapInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )


def canon(df):
    rows = df.select("id_a", "id_b", "cos_sim").orderBy("id_a", "id_b").collect()
    return [(r["id_a"], r["id_b"], round(r["cos_sim"], 6)) for r in rows]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    spark = get_spark(app_name="experiment-gemm-cosine")
    emb = load_table(spark, sf_dir, "embeddings")

    out = {"sf_dir": sf_dir, "threshold": THRESHOLD}
    for name, build in (
        ("hof", lambda: hof_cosine_pairs(emb, THRESHOLD)),
        ("shipped", lambda: cosine_pairs(emb, threshold=THRESHOLD)),
        ("gemm", lambda: gemm_cosine_pairs(spark, emb, THRESHOLD)),
    ):
        build().count()  # warm-up
        t0 = time.time()
        res = canon(build())
        out[f"{name}_wall_s"] = round(time.time() - t0, 3)
        out[f"{name}_rows"] = len(res)
        out[f"{name}_set"] = res

    a, s, b = out.pop("hof_set"), out.pop("shipped_set"), out.pop("gemm_set")
    out["identical"] = a == b == s
    if not out["identical"]:
        sa, sb = set(a), set(b) | set(s)
        out["only_hof"] = sorted(sa - sb)[:5]
        out["only_gemm"] = sorted(sb - sa)[:5]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
