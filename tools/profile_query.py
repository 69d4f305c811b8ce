"""Per-stage profile of one registry query (optimization round 13, guide §1).

Runs the query once untimed (warmup: codegen/footer caches), then once
timed, and dumps every stage the timed run created: stage name (the first
line of its details / description), executor CPU seconds, task wall
seconds, task count, shuffle read/write bytes. This pinpoints WHERE a
query's CPU goes — bench.py's per-query totals say only how much. The
header line also carries the timed run's codegen compiles (classes Janino
compiled, from CodegenMetrics) and their total compile time: a warm run
that still compiles many classes is paying Janino and interpreted
execution that the stage table does not show.

Usage: python tools/profile_query.py q_dedup_minhash_lsh [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def stage_rows(sc, min_id: int) -> list[dict]:
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    statuses = jvm.java.util.ArrayList()
    statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
    stages = store.stageList(
        statuses, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() < min_id:
            continue
        out.append(
            {
                "id": s.stageId(),
                "name": str(s.name())[:90],
                "cpu_s": s.executorCpuTime() / 1e9,
                "run_s": s.executorRunTime() / 1e3,
                "tasks": s.numCompleteTasks(),
                "shuf_r_mb": s.shuffleReadBytes() / 1e6,
                "shuf_w_mb": s.shuffleWriteBytes() / 1e6,
            }
        )
    return sorted(out, key=lambda r: -r["cpu_s"])


def max_stage_id(sc) -> int:
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    m = -1
    it = stages.iterator()
    while it.hasNext():
        m = max(m, it.next().stageId())
    return m


def codegen_totals(sc) -> tuple[int, float]:
    """(classes compiled, total compile ms) so far in this JVM."""
    jvm = sc._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator \
        .compileTime()
    return int(count), ns / 1e6


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from the_movie_database_import_spark.plans import REGISTRY
    from the_movie_database_import_spark.session import get_spark, release_caches

    spark = get_spark("profile-" + name)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def run() -> float:
        t0 = time.perf_counter()
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        return t_build

    run()  # warmup
    release_caches()
    floor = max_stage_id(sc) + 1
    compiles0, compile_ms0 = codegen_totals(sc)
    t0 = time.perf_counter()
    t_build = run()
    wall = time.perf_counter() - t0
    compiles1, compile_ms1 = codegen_totals(sc)
    rows = stage_rows(sc, floor)
    print(f"\n{name} @ {sf_dir}")
    print(f"wall={wall:.3f}s  plan_build={t_build:.3f}s  "
          f"stages={len(rows)}  tasks={sum(r['tasks'] for r in rows)}  "
          f"cpu={sum(r['cpu_s'] for r in rows):.2f}s  "
          f"codegen_compiles={compiles1 - compiles0}  "
          f"compile_ms={compile_ms1 - compile_ms0:.1f}")
    print(f"{'id':>5} {'cpu_s':>8} {'run_s':>8} {'tasks':>6} "
          f"{'shR_MB':>8} {'shW_MB':>8}  name")
    for r in rows:
        print(f"{r['id']:>5} {r['cpu_s']:>8.2f} {r['run_s']:>8.2f} "
              f"{r['tasks']:>6} {r['shuf_r_mb']:>8.2f} {r['shuf_w_mb']:>8.2f}"
              f"  {r['name']}")
    spark.stop()


if __name__ == "__main__":
    main()
