"""batch_jobs: one client in a closed loop issuing the batch jobs users
run against the engine, in seeded shuffled rounds until the window ends
and at least MIN_ROUNDS have run:

- the eight registry queries of ``querymix.MIX``, each built with
  ``plans.registry.all_queries`` and executed to the noop sink;
- the snapshot publish (``publish.Publisher``): ``config.from_config``,
  ``PipelineAssembly.build``, ``shape`` and ``deliver_batch`` to the
  benchmark's broker.

Replication and streaming state are bypassed. One untimed run of every
job, then one untimed shuffled round, warm the plans; the first run's
query results are compared with the registry's DuckDB oracle and every
publish is checked against a pandas evaluation of the config, after the
timed window.
"""

from __future__ import annotations

import json
import os
import random
import time
from statistics import median

import check
import publish
import querymix
from common import pct

PUBLISH = "snapshot_publish"
JOBS = querymix.MIX + (PUBLISH,)
#: a window holds this many rounds even when they outlast it (rounds take
#: 3-6 s on 4 vCPUs): rounds still speed up as the JVM warms, so a window
#: whose last round only sometimes fits would read faster in the runs
#: where it does
MIN_ROUNDS = 4


def run(ctx) -> dict:
    import duckdb

    from timescaledb_event_streamer_spark.plans.registry import all_oracles, all_queries
    from timescaledb_event_streamer_spark.sources.tables import TABLES, load

    spark = ctx.spark
    data = os.path.join(ctx.work, "dataset")
    querymix.make_dataset(ctx.seed, data)
    pub = publish.Publisher(ctx)
    for _ in range(3):
        t0 = time.perf_counter()
        queries = all_queries()
        for t in TABLES:
            load(spark, data, t).schema
        pub.setup()
        ctx.setup_reps.append(time.perf_counter() - t0)

    results = {name: queries[name](spark, data).toPandas() for name in querymix.MIX}
    pub.publish("warmup")

    rng = random.Random(ctx.seed)
    failed = 0
    done: list[tuple[str, str, float]] = []  # (job, tag, seconds)

    def job(name: str, tag: str, tracer) -> float:
        if name == PUBLISH:
            return pub.publish(tag, tracer)
        t0 = time.perf_counter()
        if tracer is None:
            queries[name](spark, data).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        spark.sparkContext.setJobGroup(tag, name)
        with tracer.span("plans.build", trace=tag):
            df = queries[name](spark, data)
        with tracer.span("plans.exec", trace=tag):
            df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return time.perf_counter() - t0

    def window(tracer=None) -> tuple[list[tuple[str, str, float]], float, float, float]:
        """Whole shuffled rounds of every job until the window has passed
        (at least MIN_ROUNDS), so each job weighs the same in every run."""
        nonlocal failed
        mine = []
        w0, t_start = time.time(), time.perf_counter()
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() < t_start + ctx.seconds:
            rounds += 1
            for name in rng.sample(JOBS, len(JOBS)):
                tag = f"job{len(done) + len(mine) + failed}"
                try:
                    mine.append((name, tag, job(name, tag, tracer)))
                except Exception:  # noqa: BLE001 - a failed job is a failed operation
                    failed += 1
        done.extend(mine)
        return mine, len(mine) / (time.perf_counter() - t_start), w0, time.time()

    # one untimed shuffled round: the first rounds after start-up run
    # slower while the JVM compiles and its caches fill
    for name in rng.sample(JOBS, len(JOBS)):
        job(name, "warmround", None)
    jobs, jps, _, _ = window()
    # one latency per job: its median over the window's rounds; a
    # percentile over every run pooled would rest on one or two samples
    per_job = ([s for n, _t, s in jobs if n == name] for name in JOBS)
    lat = [median(times) for times in per_job if times]
    out = {"metrics": {"throughput_per_s": jps, "latency_p50_s": pct(lat, 50),
                       "latency_p99_s": pct(lat, 99)}}
    if ctx.trace:
        traced, jps_t, w0, w1 = window(ctx.tracer)
        layer = {"tracing.overhead_frac": (jps - jps_t) / jps}
        layer.update(query_layer(ctx, traced))
        pub_times = [s for n, _t, s in traced if n == PUBLISH]
        if pub_times:
            layer.update(pub.layer(ctx.tracer, pub_times))
        out["layer"] = layer

    path = os.path.join(ctx.work, "load")
    ctx.load.stop(path)
    got, lost = pub.verify(path)
    failed += sum(1 for n, tag, _s in done if n == PUBLISH and tag in lost)
    out.update(attempted=len(done) + failed, failed=failed)
    if ctx.trace:
        with open(path + ".json") as fh:
            connections = json.load(fh)["connections"]
        pubs = sum(1 for n, _t, _s in traced if n == PUBLISH)
        out["layer"].update(check.broker_layer(got, connections, w0, w1, pubs))

    con = duckdb.connect(config={"temp_directory": os.path.join(ctx.work, "duckdb")})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = all_oracles()
    for name in querymix.MIX:
        why = querymix.same(results[name], con.sql(oracles[name]).df())
        if why:
            raise check.Mismatch(f"{name} differs from its DuckDB oracle: {why}")
    con.close()
    return out


def query_layer(ctx, traced) -> dict:
    """Build and execution time, jobs and tasks per registry query."""
    st = ctx.spark.sparkContext.statusTracker()
    span = {(s[3], s[2]): s[5] - s[4] for s in ctx.tracer.spans if s[5] is not None}
    layer = {}
    for name in querymix.MIX:
        tags = [tag for n, tag, _s in traced if n == name]
        if not tags:
            continue
        jobs = [st.getJobIdsForGroup(tag) for tag in tags]
        tasks = []
        for ids in jobs:
            n = 0
            for j in ids:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    n += stage.numTasks if stage else 0
            tasks.append(n)
        layer[f"plans.{name}.build_s"] = median([span[("plans.build", t)] for t in tags])
        layer[f"plans.{name}.exec_s"] = median([span[("plans.exec", t)] for t in tags])
        layer[f"plans.{name}.jobs"] = median([len(ids) for ids in jobs])
        layer[f"plans.{name}.tasks"] = median(tasks)
    return layer
