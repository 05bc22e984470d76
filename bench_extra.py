"""Round-6 measurement harness (bench.py is FROZEN — extra benchmarks live here).

Per spark_optimization_guide §1: isolate each query with the noop sink so the
computation is timed, not the sink; label jobs; capture formatted plans.

Usage:
  python bench_extra.py time  <query> [...]   # noop-sink timing, best/median of N
  python bench_extra.py plan  <query> [...]   # .explain("formatted") -> plans/r06/<q>.txt

Per-layer build time (chunking, extraction, merge, summary) comes from
Spark's event log: ``python3 kgbench/run.py --workload index --trace 1``.

Env (same contract as bench.py):
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  BENCH_EXTRA_REPEATS  timing repeats (default 3)
  BENCH_EXTRA_OUT      plan output dir (default plans/r06)
  BENCH_EXTRA_WARM     "1" = run the memoized simple build first (kg-dependent
                       queries' intended state, mirrors bench.py's warm group)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def get_session():
    from lightrag_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="lightrag-spark-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]

    import __spark_entry__ as em

    spark = get_session()

    if os.environ.get("BENCH_EXTRA_WARM") == "1":
        t0 = time.time()
        r_simple = em._build(spark, sf_dir)
        r_simple.mentions.count()
        r_simple.triples.count()
        print(f"[warm] kg_simple_build_warm: {time.time()-t0:.2f}s")

    qmap = em.queries()
    if mode == "plan":
        out_dir = os.environ.get("BENCH_EXTRA_OUT", "plans/r06")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = qmap[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"[plan] {name} -> {path} ({txt.count('Exchange')} Exchange refs)")
        spark.stop()
        return

    results = {}
    for name in names:
        samples = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}#{i}")
            t0 = time.time()
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = {"samples": samples, "min": min(samples)}
        print(f"[time] {name}: min={min(samples):.3f}s samples={samples}")
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
