"""Heavy-tier bench (VERDICT r12 #3): run the suite's heaviest declared
queries on a K-times-replicated copy of an sf dir, at the CURRENT
SPARK_GRAFT_CPUS, so cores-scaling claims rest on data big enough to
exercise executors instead of the scheduler floor.

This is the builder's own measurement kit, NOT bench.py (the driver
contract is untouched): run it twice — SPARK_GRAFT_CPUS=32 and =8 —
and compare per-query seconds; results are stamped in SCALE.md.

Usage: SPARK_GRAFT_CPUS=N python scripts/heavy_bench.py [K] [sf_dir] [q ...]

The replicated dir is built once per (K, sf) into a deterministic
tmp path and reused by the second core-count run while the source
files' names, sizes and mtimes match the ones recorded in its
``_BUILT`` marker (it is INPUT data —
a bigger synthetic corpus — not a cached result; every query still
computes from parquet). Each copy shifts every join-key column by
i * 2**40 so copies are disjoint key universes: per-copy join
semantics are preserved and totals scale with K.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: join-key columns to shift per table (copies become disjoint
#: universes; unlisted columns — measures, timestamps, text, dims'
#: nationkeys — are carried verbatim)
KEYS = {
    "embeddings": ["vec_id"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
#: dimension tables copied as-is (no key collisions introduced)
VERBATIM = ["nation", "region"]

SHIFT = 2**40

DEFAULT_HEAVIES = [
    "q158_sparse_fit_hash_batched",
    "q72_relief_fit_rankings",
    "q161_sparse_fit_coo_width",
    "q72c_relief_fit_hash_batched",
    "q44_sparse_relief_relevance",
    "q72d_relief_fit_hash_sampled",
    "q105_mdlp_discretize",
    "q171_unigram_train_iterprune",
    "q72a_relief_std_ranking",
    "q37_relief_discrete_collisions",
]


def source_fingerprint(sf_dir: str) -> str:
    """One line per source parquet file the replicated copy is built
    from: its path under ``sf_dir``, size and mtime."""
    lines = []
    for table in [*KEYS, *VERBATIM]:
        root = Path(sf_dir) / f"{table}.parquet"
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            st = f.stat()
            lines.append(f"{f.relative_to(sf_dir)} {st.st_size} {st.st_mtime_ns}")
    return "\n".join(lines) + "\n"


def build_heavy_dir(spark, sf_dir: str, k: int) -> str:
    from pyspark.sql import functions as F

    out = f"/tmp/spark_graft_heavy_{Path(sf_dir.rstrip('/')).name}_x{k}"
    marker = Path(out) / "_BUILT"
    # the marker holds the sources' fingerprint: a copy built from other
    # source files is rebuilt, not reused
    fingerprint = source_fingerprint(sf_dir)
    if marker.exists() and marker.read_text() == fingerprint:
        return out
    os.makedirs(out, exist_ok=True)
    t0 = time.time()
    for table, keys in KEYS.items():
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        copies = df
        for i in range(1, k):
            c = df
            for key in keys:
                # long first: int32 keys would overflow under ANSI mode
                c = c.withColumn(key, F.col(key).cast("long") + i * SHIFT)
            copies = copies.unionAll(c)
        copies.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    for table in VERBATIM:
        spark.read.parquet(f"{sf_dir}/{table}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{table}.parquet")
    marker.write_text(fingerprint)
    print(f"# heavy dir built in {time.time() - t0:.1f}s: {out}", file=sys.stderr)
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or DEFAULT_HEAVIES

    from spark_relieffc_fselection_spark import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="heavy-bench")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    heavy = build_heavy_dir(spark, sf_dir, k)
    qs = entry.queries()
    results = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"heavy:{name}")
        try:
            fn(spark, heavy).count()  # warm (codegen/JIT)
            ts = []
            for _ in range(2):
                t0 = time.time()
                fn(spark, heavy).count()
                ts.append(time.time() - t0)
            results[name] = min(ts)
            print(f"HEAVY k={k} cpus={cpus} {name}: min={min(ts):.2f} "
                  f"all={[round(x, 2) for x in ts]}", flush=True)
        except Exception as exc:  # keep the sweep alive
            print(f"HEAVY k={k} cpus={cpus} {name}: FAILED {exc}", flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
    total = sum(results.values())
    print(f"HEAVY k={k} cpus={cpus} TOTAL({len(results)}): {total:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
