"""batch: timed passes over registry queries.

A pass builds each query through ``queries()`` and consumes it with the
``noop`` sink (every output row computed, none shipped to the driver). The
pass mixes a driver-bound query (frame construction and eager build-time
jobs take the wall time while executors idle) with executor-bound ones (an
n-gram similarity join and a JVM-only join); the traced run splits the two
by layer. The seed orders the queries within each pass. The first
pass warms the JVM, codegen and the python workers and is not timed; then
passes run until the window closes and the median pass is reported.

Correctness is checked outside the timed region: the warm-up pass
collects every query and each timed pass one query in rotation, and the
rows are hashed with ``tools/verify_local.py``'s ``frame_hash`` against the
query's ``oracle_sql()`` twin run by DuckDB over the same generated tables.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import numpy as np

import gen
import meters

QUERIES = [
    # driver-bound: build time and eager jobs dominate
    "graph_components",
    # executor-bound: n-gram prefix-filtered similarity join, JVM-only join.
    # text_winnow_fps is left out: on documents shorter than k+w-1 = 10
    # characters it digests its empty fingerprint list as md5('') where
    # its oracle yields NULL (test_perfbench pins this as a known defect)
    "dedup_ppjoin_pairs", "q5_nation_revenue",
]
# (star-schema sf, documents/embeddings sf) of the generated tables
SCALES = {"bench": (0.01, 0.02), "tiny": (0.001, 0.002)}


def _verify_local():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """query -> (sorted columns, row count, frame hash) from DuckDB."""
    import duckdb

    import __spark_entry__ as entry
    from affinity_spark.tables import TABLES

    vl = _verify_local()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    sql = entry.oracle_sql()
    out = {}
    for name in names:
        res = con.execute(sql[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = (sorted(cols), len(rows), vl.frame_hash(cols, rows))
    con.close()
    return out


def check(df, expect: tuple, frame_hash) -> str | None:
    rows = df.collect()
    got = (sorted(df.columns), len(rows), frame_hash(df.columns, [tuple(r) for r in rows]))
    return None if got == expect else f"expected {expect}, got {got}"


def run(run) -> dict:
    import __spark_entry__ as entry
    from affinity_spark import tables
    from affinity_spark.cache import release_shared

    names = QUERIES
    sf, doc_sf = SCALES[run.scale]
    data = run.dir("data")
    table_stats = gen.write_tables(data, run.seed, sf, doc_sf)
    run.mark("inputs")
    expect = oracle_hashes(data, names)
    run.mark("oracle")
    if run.inject == "wrong-hash":
        c, n, _h = expect[names[0]]
        expect[names[0]] = (c, n, "0" * 16)
    frame_hash = _verify_local().frame_hash
    tr = run.tracer
    rng = np.random.default_rng([run.seed, 7])
    fns = entry.queries()

    load_s = 0.0

    def setup(spark):
        nonlocal load_s
        t0 = time.perf_counter()
        for t in tables.TABLES:
            tables.load(spark, data, t)
        load_s = time.perf_counter() - t0

    if run.trace:
        tr.patch(tables, "load", "tables.load")
    setup_s = run.setup(setup)
    run.mark("setup")
    spark = run.spark
    sc = spark.sparkContext
    if run.trace:
        tr.count_py4j(spark)

    attempted = failed = 0
    errors: list[str] = []
    per_query: dict[str, list[tuple]] = {n: [] for n in names}

    def one_pass(checks: set[str], timed: bool) -> dict:
        nonlocal attempted, failed
        order = [names[i] for i in rng.permutation(len(names))]
        before = meters.stage_snapshot(spark) if timed and run.trace else None
        build = execute = 0.0
        py4j = 0
        dfs = {}
        tag = f"p{len(passes)}" if timed else "warm"
        for name in order:
            if run.trace:
                sc.setJobGroup(f"{tag}:b:{name}", "build")
            p0 = tr.py4j_calls()
            attempted += 1
            try:
                t0 = time.perf_counter()
                with tr.span("registry.build"):
                    df = fns[name](spark, data)
                t1 = time.perf_counter()
                p1 = tr.py4j_calls()
                if run.trace:
                    sc.setJobGroup(f"{tag}:x:{name}", "exec")
                with tr.span("exec.noop"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                failed += 1
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                release_shared()
                continue
            if name in checks and not timed:
                err = _safe_check(df, expect[name], frame_hash)
                if err:
                    failed += 1
                    errors.append(f"{name}: {err}")
            release_shared()
            dfs[name] = df
            build += t1 - t0
            execute += t2 - t1
            py4j += p1 - p0
            if timed:
                per_query[name].append((t1 - t0, t2 - t1))
        after = meters.stage_snapshot(spark) if timed and run.trace else None
        if timed:
            # outside the timed region and the stage window
            for name in checks & dfs.keys():
                err = _safe_check(dfs[name], expect[name], frame_hash)
                if err:
                    failed += 1
                    errors.append(f"{name}: {err}")
                release_shared()
        jobs = {}
        if run.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            st = sc.statusTracker()
            jobs = {
                "build": sum(len(st.getJobIdsForGroup(f"{tag}:b:{n}")) for n in names),
                "exec": sum(len(st.getJobIdsForGroup(f"{tag}:x:{n}")) for n in names),
            }
        return {"wall": build + execute, "build": build, "exec": execute,
                "py4j": py4j, "jobs": jobs, "work": meters.work_delta(before, after)}

    passes: list[dict] = []
    # one untimed warm-up pass that checks every query; the first timed
    # pass may still run 20-30% slow, which the median absorbs
    one_pass(set(names), timed=False)
    run.mark("warmup")
    t_win = time.perf_counter()
    while not passes or time.perf_counter() - t_win < run.seconds:
        rot = names[len(passes) % len(names)]
        passes.append(one_pass({rot}, timed=True))
    window = time.perf_counter() - t_win
    run.mark("window")

    walls = [p["wall"] for p in passes]
    named = {
        "pass_wall_s": statistics.median(walls),
        "pass_walls_s": walls,
        "error_rate": failed / max(attempted, 1),
    }
    out = {
        "setup_s": setup_s,
        "p50_ms": statistics.median(walls) * 1e3,
        # median-based like p50_ms: one stalled pass must not move it
        "throughput_per_s": len(names) / statistics.median(walls),
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "named": named,
        "tables": table_stats,
        "traced_wall_s": window,
        "window": (t_win, t_win + window),
        "breakdown": {
            n: {"build_s": statistics.median(b for b, _ in v),
                "exec_s": statistics.median(e for _, e in v)}
            for n, v in per_query.items() if v
        },
    }
    if run.trace:
        # every layer number comes from the median pass (the mean of the two
        # middle passes for an even count), so registry.build_s +
        # exec.wall_s is the reported pass_wall_s
        ranked = sorted(passes, key=lambda p: p["wall"])
        mids = ranked[(len(ranked) - 1) // 2:len(ranked) // 2 + 1]
        per = [{**meters.stage_metrics(p["work"], p["exec"]),
                "registry.build_s": p["build"],
                "registry.build_jobs": p["jobs"]["build"],
                "registry.py4j_calls": p["py4j"],
                "exec.jobs": p["jobs"]["exec"]} for p in mids]
        layers = {k: statistics.mean(d[k] for d in per) for k in per[0]}
        layers["tables.load_s"] = load_s
        out["layers"] = layers
    return out


def _safe_check(df, expect, frame_hash) -> str | None:
    try:
        return check(df, expect, frame_hash)
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {str(e)[:200]}"
