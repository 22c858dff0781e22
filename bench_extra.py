"""Supplementary benchmarks NOT in the frozen bench.py: throughput
evidence for the LLM-data-pipeline path (the 100 TB curation claim).

q_curate_near: the full near-duplicate curation capstone — quality gates
-> MinHash signatures -> ONE banded LSH shuffle -> exact-Jaccard verify on
candidates -> connected components -> keeper election — over a GENERATED
corpus of $BENCH_DOCS documents (default 1,000,000; deterministic, built
JVM-side and cached untimed exactly like bench.py's base tables). ~28% of
docs sit in 3-member near-dup groups (a parent and two 1-word-suffix
variants, shingle-3 Jaccard ~0.93 > the 0.8 threshold), the rest are
unique — so every stage does real work: the gates pass everything (alpha
words, low repetition), LSH banding must collide the variant groups, the
verify must reject chance collisions, components must label ~3-member
cliques, and the election keeps ~unique + one per clique.

Protocol identical to bench.py (BENCH_JVMS=2 x (1 warmup + BENCH_RUNS=2)
fresh-JVM runs, published = MIN across all timed runs — whole-JVM
slowdowns on this virtualized box cannot be filtered any other way, see
BENCH/NOTES.md). Prints ONE JSON line. Result hash printed per run and
asserted stable across runs/JVMs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DOCS = int(os.environ.get("BENCH_DOCS", "1000000"))


def _docs(spark, n):
    """Deterministic synthetic corpus: doc i is 40 pseudo-random alpha
    words derived from md5 of its GROUP id (i - i%7 for the two variant
    members i%7 in {1,2}, else i), variants append a 1-word suffix. All
    letters (alpha gate passes), ~unique words per doc (repetition gate
    passes)."""
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    return (
        spark.range(0, n, 1, 4 * par)
        .selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 7 IN (1, 2) THEN id - id % 7 ELSE id END AS _b",
        )
        .withColumn(
            "text",
            F.expr(
                "concat_ws(' ', transform(sequence(1, 40), k -> "
                "translate(substr(md5(concat(cast(_b AS STRING), '-', "
                "cast(k AS STRING))), 1, 7), '0123456789', 'abcdefghij')))"
            ),
        )
        .withColumn(
            "text",
            F.expr(
                "CASE WHEN doc_id % 7 IN (1, 2) "
                "THEN concat(text, ' v', doc_id % 7) ELSE text END"
            ),
        )
        .select("doc_id", "text")
    )


def _worker() -> None:
    from pyspark.sql import functions as F

    from bench_common import force
    from maskmypy_spark.operators.dedup import curate_near
    from maskmypy_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warmups = int(os.environ.get("BENCH_WARMUP", "1"))
    runs = int(os.environ.get("BENCH_RUNS", "2"))

    spark = get_spark(app="maskmypy-bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs = _docs(spark, N_DOCS).cache()
    n = docs.count()  # untimed generation + cache, as bench.py's tables

    def run():
        return force(curate_near(docs), F.count(F.lit(1)))

    for _ in range(warmups):
        h0, kept = run()
    ts, hashes = [], set()
    for _ in range(runs):
        t0 = time.perf_counter()
        h, kept = run()
        ts.append(round(time.perf_counter() - t0, 3))
        hashes.add(h)
    assert len(hashes) == 1, hashes
    print(
        "WORKER_RESULT "
        + json.dumps(
            {"docs": n, "kept": kept, "hash": h, "runs": ts}
        )
    )


def main() -> None:
    if os.environ.get("_BENCH_EXTRA_WORKER") == "1":
        _worker()
        return
    jvms = int(os.environ.get("BENCH_JVMS", "2"))
    env = dict(os.environ, _BENCH_EXTRA_WORKER="1")
    detail, meta = [], None
    for _ in range(jvms):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            capture_output=True, text=True, env=env, timeout=7200,
        )
        got = None
        for line in proc.stdout.splitlines():
            if line.startswith("WORKER_RESULT "):
                got = json.loads(line[len("WORKER_RESULT "):])
        if got is None:
            raise RuntimeError(
                f"worker failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}"
            )
        if meta is not None:
            assert got["hash"] == meta["hash"], (got, meta)
        meta = got
        detail.append(got["runs"])
    best = min(min(ts) for ts in detail)
    out = {
        "metric": "curate_near wall-time (gates -> minhash-LSH -> verify -> "
                  "components -> keeper election)",
        "value": best,
        "unit": "sec",
        "docs": meta["docs"],
        "kept": meta["kept"],
        "hash": meta["hash"],
        "docs_per_sec": round(meta["docs"] / best, 1),
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "protocol": {
            "jvms": jvms,
            "warmups_per_jvm": int(os.environ.get("BENCH_WARMUP", "1")),
            "runs_per_jvm": int(os.environ.get("BENCH_RUNS", "2")),
            "stat": "min across all timed runs of all JVMs",
        },
        "runs_detail": detail,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
