"""Round-6 interleaved A/B harness — reproduces OPTIMIZATION_r06.md claims.

Usage: python tools/r06_ab.py [dedup] [repeats]

Every comparison is interleaved (A, B, A, B …) in ONE session with noop
sinks (guide §1.4) because this VM's absolute timings swing 3–4× between
windows (see OPTIMIZATION_r06.md "Measurement regime"). The "old" variants
are frozen copies of the pre-round-6 implementations (git df26eb5) kept
here solely as A/B baselines.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_TMPFS_SCRATCH", "1")

from pyspark.sql import functions as F  # noqa: E402

from wikidata_to_cidoc_crm_spark.session import get_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- frozen pre-round-6 implementations (df26eb5) ---

def old_minhash_signatures(docs, num_hashes=32, k=3):
    from wikidata_to_cidoc_crm_spark.operators.dedup import shingles

    sh = shingles(docs, "doc_id", "text", k)
    seeded = sh.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed"),
        "shingle").withColumn("h", F.xxhash64("shingle", "seed"))
    return (seeded.groupBy("id", "seed").agg(F.min("h").alias("mh"))
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("_s"))
            .select("id", F.transform("_s", lambda s: s.mh).alias("sig")))


def old_minhash_lsh(docs, threshold=0.5):
    from wikidata_to_cidoc_crm_spark.operators.dedup import (
        lsh_candidate_pairs, shingles)

    sigs = old_minhash_signatures(docs)
    cands = lsh_candidate_pairs(sigs, 8, 4)
    sh = shingles(docs, "doc_id", "text", 3).cache()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sha = sh.select(F.col("id").alias("a"), "shingle")
    shb = sh.select(F.col("id").alias("b"), "shingle")
    common = (cands.join(sha, "a").join(shb, ["b", "shingle"])
              .groupBy("a", "b").agg(F.count("*").alias("common")))
    return (common
            .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
            .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
            .withColumn("jaccard", F.round(
                F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), 6))
            .filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard"))


def old_simhash_near(docs, max_hamming=8, bits=48, hash_mode="md5"):
    from wikidata_to_cidoc_crm_spark.operators.dedup import simhash

    n_chunks = max_hamming + 1
    width = bits // n_chunks
    sh = simhash(docs, "doc_id", "text", bits, hash_mode).cache()
    chunks = sh.select(
        "id", "bits",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c"),
    ).withColumn(
        "chunk", F.concat_ws("", F.slice("bits", F.col("c") * width + 1, width)))
    a = chunks.select(F.col("id").alias("a"), F.col("bits").alias("ba"), "c", "chunk")
    b = chunks.select(F.col("id").alias("b"), F.col("bits").alias("bb"), "c", "chunk")
    cand = (a.join(b, ["c", "chunk"]).filter(F.col("a") < F.col("b"))
            .select("a", "b", "ba", "bb").distinct())
    hamming = F.size(F.filter(F.zip_with("ba", "bb", lambda x, y: x != y),
                              lambda d: d))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming).select("a", "b", "hamming")


def ab_dedup(spark, sf_dir: str, repeats: int) -> None:
    from wikidata_to_cidoc_crm_spark.operators.dedup import (
        minhash_lsh_dedup, simhash_near_pairs)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    docs.count()
    res: dict[str, list[float]] = {}
    for _ in range(repeats):
        for name, fn in [
            ("simhash_new", lambda: simhash_near_pairs(
                docs, max_hamming=8, bits=48, hash_mode="md5")),
            ("simhash_old", lambda: old_simhash_near(docs)),
            ("minhash_new", lambda: minhash_lsh_dedup(docs, threshold=0.5)),
            ("minhash_old", lambda: old_minhash_lsh(docs)),
        ]:
            spark.catalog.clearCache()
            docs.cache().count()
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            noop(fn())
            res.setdefault(name, []).append(round(time.time() - t0, 2))
    for k, v in res.items():
        print(k, v, "min", min(v))


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "dedup"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("r06-ab", cores=32, shuffle_partitions=32)
    if which != "dedup":
        raise SystemExit(f"unknown probe: {which}")
    ab_dedup(spark, sf_dir, repeats)


if __name__ == "__main__":
    main()
