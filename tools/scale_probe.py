"""Scale probe for the dedup/ANN families (r9 verdict #2).

For each scale factor, measures min-of-2 wall per probed query in one
warmed session AND counts the family's CANDIDATE PAIRS — the frame the
banded/bucketed design verifies instead of the all-pairs space. The
100 TB claim under test: candidates grow ~linearly with the corpus,
never quadratically, so each tier prints candidates, the all-pairs
denominator n*(n-1)/2, and their ratio.

Usage: python tools/scale_probe.py [sf_dir ...]   (default: all three)
Writes SCALE_PROBE.json next to this file and prints one JSON line per
(family, sf).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gcpdatapipelines_spark import queries as Q
from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.session import get_spark

import __spark_entry__ as entry_mod

DEFAULT_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def _docs_n(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").count()


def _emb_n(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").count()


def cand_minhash(spark, sf_dir):
    """LSH band-bucket collision pairs (pre-verify), md5 mode — the
    exact frame dedup_minhash_lsh verifies."""
    from gcpdatapipelines_spark.operators.dedup import lsh_candidate_pairs

    banded = Q._md5_band_keys(spark, sf_dir)
    return lsh_candidate_pairs(banded, "doc_id").count(), _docs_n(spark, sf_dir)


def cand_srp(spark, sf_dir):
    """SRP band-key collision pairs (pre-verify) at the default 64 bits
    in 4 bands — the exact frame sim_srp_lsh scores."""
    from gcpdatapipelines_spark.operators.similarity import srp_candidate_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    c = srp_candidate_pairs(emb, "vec_id", "embedding", max_bucket=1000).count()
    return c, _emb_n(spark, sf_dir)


def cand_ivf(spark, sf_dir):
    """Probed-cell candidates (query, vector) — the exact frame
    sim_ivf_topk scores; ~nprobe/nlist of n per query."""
    from gcpdatapipelines_spark.operators.similarity import ivf_seeded_candidates

    emb = read_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand, _v, _q = ivf_seeded_candidates(emb, qs, nlist=16, nprobe=4)
    return cand.count(), _emb_n(spark, sf_dir)


def cand_pq_adc(spark, sf_dir):
    """ADC is an exhaustive compressed-domain scan BY DESIGN: every
    query reads all n codes (m bytes each), so candidates = nq * n —
    linear in n per query, never pairwise. Counted arithmetically."""
    n = _emb_n(spark, sf_dir)
    nq = 3
    return nq * n, n


def cand_phash(spark, sf_dir):
    """Kind-scoped multi-probe candidate pairs (pre-verify) — the
    exact frame mm_phash_neardup verifies since r11 (1-bit probes on
    32-bit words; identical verified output as the 16-bit chunk
    banding, see dedup.banded_two_word_probe_candidates)."""
    from gcpdatapipelines_spark.operators.dedup import (
        banded_two_word_probe_candidates,
    )

    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    sig = Q._simhash_md5(spark, sf_dir).select(
        F.col("doc_id").alias("asset_id"), kind.alias("kind"), "sig_hi", "sig_lo"
    )
    cand, _keys = banded_two_word_probe_candidates(sig, "asset_id", "kind")
    return cand.count(), _docs_n(spark, sf_dir)


def cand_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered SSJoin candidates (pre-verify) at the catalog's
    t=0.5 — the exact frame dedup_jaccard_prefix re-scores. Unlike the
    LSH families this set is LOSSLESS (contains every pair with
    J >= t), so its size is data-dependent: the probe documents how
    far below all-pairs the prefix theorem prunes on this corpus."""
    from gcpdatapipelines_spark.operators.dedup import jaccard_prefix_candidates

    sh = Q._doc_shingles(spark, sf_dir)
    return jaccard_prefix_candidates(sh, "doc_id", 0.5).count(), _docs_n(
        spark, sf_dir
    )


FAMILIES = {
    "dedup_minhash_lsh": cand_minhash,
    "dedup_jaccard_prefix": cand_jaccard_prefix,
    "sim_ivf_topk": cand_ivf,
    "sim_srp_lsh": cand_srp,
    "sim_pq_adc": cand_pq_adc,
    "mm_phash_neardup": cand_phash,
}


def main() -> None:
    sf_dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = get_spark("scale-probe")
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.mode(
        "overwrite"
    ).format("noop").save()
    queries = entry_mod.queries()
    out = []
    for sf_dir in sf_dirs:
        entry_mod.prewarm(spark, sf_dir)
        for name, cand_fn in FAMILIES.items():
            walls = []
            for _ in range(2):
                t0 = time.time()
                queries[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                walls.append(round(time.time() - t0, 3))
            n_cand, n_rows = cand_fn(spark, sf_dir)
            allpairs = n_rows * (n_rows - 1) // 2
            rec = {
                "family": name,
                "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                "min_wall_s": min(walls),
                "n_rows": n_rows,
                "candidates": int(n_cand),
                "all_pairs": int(allpairs),
                "cand_frac_of_allpairs": round(n_cand / allpairs, 6)
                if allpairs
                else None,
                "cand_per_row": round(n_cand / n_rows, 2) if n_rows else None,
            }
            out.append(rec)
            print(json.dumps(rec), flush=True)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                     "SCALE_PROBE.json"),
        "w",
    ) as fh:
        json.dump(out, fh, indent=2)


if __name__ == "__main__":
    main()
