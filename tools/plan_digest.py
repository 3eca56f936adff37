"""Physical-plan digests of the blocking / pair-generation operators.

Builds each operator's DataFrame (no job runs), takes its
``executedPlan`` string, normalises the parts that differ from one
session to the next — expression ids (``#12L``), ``plan_id=`` and
``[id=...]`` tags, lambda variable names and ``StorageLevel(...)`` —
and prints one ``name sha1 length`` line per operator. Two checkouts
whose lines match plan every operator identically, so a refactor can
be shown to leave the physical plans untouched:

    python tools/plan_digest.py <sf_dir>       # dir holding documents.parquet

The linking operators run on a fixed 200-norm keys frame; the dedup
operators on ``<sf_dir>/documents.parquet``.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NORMALISE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=[^\]]*\]"), "[id=N]"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"StorageLevel\([^)]*\)"), "StorageLevel(N)"),
]


def normalised_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    return plan


def operators(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from pdfmef_spark.operators import dedup, linking

    keys = spark.createDataFrame(
        [("PERSON", f"fn{i % 9} ln{i}", 1) for i in range(200)],
        "type string, surface string, freq int",
    ).withColumn("norm", F.col("surface"))
    keyed_all = linking.tag_block_keys(keys.select("type", "norm")).withColumn(
        "is_new", F.col("norm").endswith("7")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return {
        "candidate_pairs": lambda: linking.candidate_pairs(keys),
        "delta_candidate_pairs": lambda: linking.delta_candidate_pairs(keyed_all)[0],
        "minhash_dedup_pairs": lambda: dedup.minhash_dedup_pairs(docs),
        "simhash_dedup_pairs": lambda: dedup.simhash_dedup_pairs(docs),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs),
        "ngram_jaccard_pairs_uncapped": lambda: dedup.ngram_jaccard_pairs(
            docs, block_cap=None
        ),
    }


def main(sf_dir: str) -> int:
    from pdfmef_spark.session import get_spark

    spark = get_spark("plan_digest", cores=2, shuffle_partitions=8, driver_memory="2g")
    for name, build in operators(spark, sf_dir).items():
        plan = normalised_plan(build()).encode()
        print(name, hashlib.sha1(plan).hexdigest(), len(plan))
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
