#!/usr/bin/env python
"""Second-decade dedup cardinality sweep: 55,000-doc dup-injected table.

With reps = 1 this records per-stage candidate counts for the sf dir as
it is (550 dup-injected docs at sf0.01, 5,500 at sf0.1: the first decade).
With reps > 1 it adds the next decade: a
deterministic 10x expansion of the sf0.1 corpus (5,500 -> 55,000 docs) so
the minhash-linear / banded-quadratic-knee claims in BENCH/CARDINALITY.md
rest on two decades of measurement instead of one.

The expansion must preserve the corpus's CROSS-document similarity
structure (what drives banded candidate volume), so replica r of doc i is
a split-splice: the first half of doc i's words + the second half of doc
((i + 37*r) mod N)'s words. Each synthetic doc shares shingle mass with
two parents, vocabulary statistics are unchanged, and everything is a
deterministic column expression (re-runnable, no RNG).

Usage: python scripts/cardinality_sweep.py [sf_dir] [reps]
       python scripts/cardinality_sweep.py --real [reps]
Prints one JSON line with per-stage cardinalities for the three banded
pipelines at the expanded scale.

``--real`` (VERDICT r3 item 8) swaps the synthetic base corpus for the 127
reference fixture pages' *extracted article text* (real web prose, real
entropy) and expands with the same split-splice, so the "web entropy
behaves better than the synthetic corpus" claim in CARDINALITY.md has a
measured row instead of an argument. Requires /root/reference.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ONLY = None
if "--only" in sys.argv:
    i = sys.argv.index("--only")
    ONLY = sys.argv[i + 1]
    del sys.argv[i : i + 2]
REAL = len(sys.argv) > 1 and sys.argv[1] == "--real"
if REAL:
    SF_DIR = "fixtures:real-text"
    REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 433
else:
    SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 10
REP_OFFSET = 100_000_000  # far above DUP_OFFSET: replica ids never collide


REAL_DOC_TOKENS = 600  # ≈ the synthetic corpus's doc length


def real_text_docs(spark):
    """(doc_id, text) from the 127 reference fixture pages' expected
    extracted text, whitespace-normalized to the corpus's space-joined
    token convention and truncated to REAL_DOC_TOKENS words. Truncation
    keeps the sweep's cost profile comparable to the synthetic rows (some
    fixture articles run 50k+ words — shingle mass, not collision
    structure) while preserving what the row is for: real-web token
    entropy in the band keys."""
    from readability_spark.sources.fixtures import expected_text, iter_cases

    rows = []
    for case in iter_cases():
        t = expected_text(case)
        if t:
            rows.append((len(rows), " ".join(t.split()[:REAL_DOC_TOKENS])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def expanded_docs(spark, sf_dir: str, reps: int):
    from pyspark.sql import functions as F

    if sf_dir == "fixtures:real-text":
        docs = real_text_docs(spark)
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    toks = F.split("text", " ")
    half = (F.size(toks) / 2).cast("int")
    left = docs.select(
        "doc_id", F.concat_ws(" ", F.slice(toks, F.lit(1), half)).alias("l")
    )
    right = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, half + 1, F.size(toks) - half)).alias("r"),
    )
    if reps <= 1:
        return docs
    # One join over an exploded rep range instead of a reps-way union of
    # joins (a 433-rep real-text sweep would otherwise build a 433-join
    # plan). pmod, not %: for rep where 37*rep > n + doc_id the signed %
    # returns a negative partner id and the splice join silently matches
    # nothing (caught on the 127-doc real-text base, where reps > 3
    # produced empty replicas; the synthetic n >= 5,500 base never hit it).
    rep_range = spark.range(1, reps).select(F.col("id").cast("int").alias("rep"))
    keyed = (
        left.crossJoin(F.broadcast(rep_range))
        .withColumn("partner", F.pmod(F.col("doc_id") + 37 * F.col("rep"), F.lit(n)))
    )
    spliced = keyed.join(
        right.withColumnRenamed("doc_id", "partner"), "partner"
    ).select(
        (F.col("doc_id") + F.col("rep").cast("long") * F.lit(REP_OFFSET)).alias(
            "doc_id"
        ),
        F.concat_ws(" ", "l", "r").alias("text"),
    )
    return docs.unionByName(spliced)


def main() -> int:
    from readability_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash64_near_pairs,
        with_injected_duplicates,
    )
    from readability_spark.session import build_spark

    spark = build_spark("cardinality-sweep")

    expanded = expanded_docs(spark, SF_DIR, REPS)
    dup = with_injected_duplicates(expanded).persist()
    n_docs = dup.count()
    out: dict = {"sf_dir": SF_DIR, "reps": REPS, "dedup_input_docs": n_docs}

    if ONLY in (None, "minhash"):
        t0 = time.time()
        st: dict = {}
        verified = minhash_lsh_pairs(dup, _stages=st).count()
        out["minhash"] = {
            "band_rows": st["band_rows"].count(),
            "candidate_pairs": st["candidate_pairs"].count(),
            "verified_pairs": verified,
            "wall_sec": round(time.time() - t0, 1),
        }

    if ONLY in (None, "simhash64"):
        t0 = time.time()
        st = {}
        verified = simhash64_near_pairs(dup, _stages=st).count()
        out["simhash64"] = {
            "candidate_pairs": st["candidate_pairs"].count(),
            "verified_pairs": verified,
            "hot_band_keys": st["hot_band_keys"].count(),
            "hot_rows": st["hot_rows"].count(),
            "wall_sec": round(time.time() - t0, 1),
        }

    if ONLY in (None, "ngram_jaccard"):
        t0 = time.time()
        st = {}
        verified = ngram_jaccard_pairs(dup, _stages=st).count()
        out["ngram_jaccard"] = {
            "shingle_rows": st["shingle_rows"].count(),
            "discriminative_shingle_rows": st["discriminative_shingle_rows"].count(),
            "candidate_pairs": st["candidate_pairs"].count(),
            "verified_pairs": verified,
            "wall_sec": round(time.time() - t0, 1),
        }

    # Media fingerprints share hash64_near_pairs with text simhash64; this
    # leg measures whether the SYNTHETIC media corpora (closed-form pixel /
    # waveform patterns) concentrate into band buckets the way the
    # low-entropy synthetic text does — candidate volume and hot-bucket
    # spill are the numbers that predict 100x behavior. Duplicates are
    # injected at the payload level (byte-identical copies of every 10th
    # item), matching the registry queries. Text-only real-text mode skips
    # it (fixtures have no media payloads).
    if ONLY in (None, "media") and SF_DIR != "fixtures:real-text":
        from pyspark.sql import functions as F

        from readability_spark.operators.audio import (
            audio_fingerprint,
            synthesize_audio,
        )
        from readability_spark.operators.dedup import (
            hash64_near_pairs,
            with_injected_duplicates,
        )
        from readability_spark.operators.imaging import (
            image_pixel_stats,
            synthesize_images,
        )

        ids = expanded.select("doc_id")
        for name, synth, fp, hi, lo in (
            ("image_ahash", synthesize_images, image_pixel_stats, "ahash_hi", "ahash_lo"),
            ("audio_fp", synthesize_audio, audio_fingerprint, "fp_hi", "fp_lo"),
        ):
            t0 = time.time()
            media = with_injected_duplicates(synth(ids))
            sig = (
                fp(media)
                .filter(F.col("ok"))
                .select(
                    "doc_id",
                    F.col(hi).alias("sim_hi"),
                    F.col(lo).alias("sim_lo"),
                )
            )  # hash64_near_pairs localCheckpoints internally: decode runs once
            st = {}
            verified = hash64_near_pairs(sig, _stages=st).count()
            out[name] = {
                "candidate_pairs": st["candidate_pairs"].count(),
                "verified_pairs": verified,
                "hot_band_keys": st["hot_band_keys"].count(),
                "hot_rows": st["hot_rows"].count(),
                "wall_sec": round(time.time() - t0, 1),
            }

    dup.unpersist()
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
