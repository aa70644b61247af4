"""The two workloads. Each runs set-up, an untraced timed phase and the
output checks; with ``--trace 1`` it then repeats the timed phase with spans
and Spark's event log and reports the per-layer metrics.

Engine entry points used (all public, all at CLI defaults):
``plans.pipeline.run_pipeline`` (batch_files=4, salt=8, 32 key buckets),
``operators.lookup.get_records``, ``operators.aggregate.info``,
``cli.main(["archive", ...])`` and ``__spark_entry__.queries()``.
The per-layer probes in the traced run also call ``functions.parse``,
``operators.enrich``/``route`` and ``operators.dedup`` directly.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import io
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import gen
import procstat
import spans

SESSION_REPEATS = 3
INFO_EVERY = 10  # serve: every 10th operation is an `info`
WARM_GETS = 10
QUERIES = [
    "parse_records", "dedup_pipeline", "flagship_route_aggregate", "windowed_agg",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_clusters", "perplexity_buckets",
    "embedding_neardup", "tfidf_top_terms", "point_lookup", "info_stats",
]
QUERY_TABLES = ["documents", "events", "embeddings"]


@dataclass
class Sizes:
    base_pages: int
    replay_pages: int
    gets_per_second: int
    docs: int
    events: int
    vecs: int


SIZES = {
    "default": Sizes(base_pages=300, replay_pages=300, gets_per_second=3, docs=300, events=3000, vecs=300),
    "tiny": Sizes(base_pages=120, replay_pages=120, gets_per_second=2, docs=80, events=500, vecs=60),
}


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: int
    trace: bool
    sizes: Sizes
    master: str
    spark: object = None
    problems: list = field(default_factory=list)
    attempted: int = 0
    meta: dict = field(default_factory=dict)

    def ok(self, problems: list[str]) -> None:
        self.attempted += 1
        self.problems += problems


def _ms(xs: list[float]) -> list[float]:
    return [x * 1e3 for x in xs]


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def _count_files(d: str) -> int:
    return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(p, f))
        for p, _, fs in os.walk(d)
        for f in fs
        if not f.startswith(".")
    )


# -- session -----------------------------------------------------------------


def session_conf(ctx: Ctx) -> dict[str, str]:
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if ctx.trace:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",  # no zstandard module to read it back
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_sessions(ctx: Ctx, warm_paths: list[str]) -> list[float]:
    """Start the session SESSION_REPEATS times (the first launches the JVM,
    the others restart the SparkContext in it) and read the inputs once in
    each; returns the wall time of each start."""
    from log_server_spark.session import get_spark

    times = []
    for _ in range(SESSION_REPEATS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t = time.time()
        ctx.spark = get_spark(master=ctx.master, app_name="perfbench", extra_conf=session_conf(ctx))
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.spark.read.parquet(*warm_paths).count()
        times.append(time.time() - t)
    return times


def stop_session(ctx: Ctx) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers exit."""
    from pyspark import SparkContext

    if ctx.spark is None:
        return
    children = [p for p in procstat.tree() if p != os.getpid()]
    gw = SparkContext._gateway
    ctx.spark.stop()
    ctx.spark = None
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    for p in children:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def _metadata(ctx: Ctx) -> dict:
    import pyarrow
    import pyspark

    from log_server_spark.functions import _native

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": ctx.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "native_murmur3": _native.native_murmur3_rows() is not None,
        "batch_files": gen.BATCH_FILES,  # the cli update defaults run_pipeline is called with
        "salt": 8,
    }


# -- ingest_replay -----------------------------------------------------------


@dataclass
class ServePlan:
    keys: list
    n_gets: int


def _timed_wrappers(tracer: spans.Tracer, batch_times: list[float], write_small_s: list[float]):
    """Wrap ``run_batch`` (and in the traced run ``refresh_aggregates`` and
    ``Warehouse.write_small``) so the benchmark sees each batch; returns an
    undo callback. ``run_pipeline`` looks these names up at call time."""
    import log_server_spark.catalog as catalog
    import log_server_spark.plans.pipeline as pipeline

    saved = (pipeline.run_batch, pipeline.refresh_aggregates, catalog.Warehouse.write_small)
    run_batch, refresh, write_small = saved

    def timed_batch(*a, **k):
        t = time.time()
        with tracer.span("pipeline.run_batch"):
            r = run_batch(*a, **k)
        batch_times.append(time.time() - t)
        return r

    def traced_refresh(*a, **k):
        with tracer.span("pipeline.refresh_aggregates"):
            return refresh(*a, **k)

    def timed_write_small(self, *a, **k):
        t = time.time()
        try:
            return write_small(self, *a, **k)
        finally:
            write_small_s.append(time.time() - t)

    pipeline.run_batch = timed_batch
    if tracer.enabled:
        pipeline.refresh_aggregates = traced_refresh
        catalog.Warehouse.write_small = timed_write_small

    def undo():
        pipeline.run_batch, pipeline.refresh_aggregates, catalog.Warehouse.write_small = saved

    return undo


def replay_phase(ctx: Ctx, pages_dir: str, wh: str, plan: ServePlan, tracer: spans.Tracer) -> dict:
    """update (the re-delivery batch) -> closed-loop get/info: the timed
    phase. Returns timings, every call's output for the checks, and the
    process-tree CPU/memory of the phase."""
    from log_server_spark.operators.aggregate import info
    from log_server_spark.operators.lookup import get_records
    from log_server_spark.plans.pipeline import run_pipeline

    spark = ctx.spark
    records = os.path.join(wh, "records")
    out: dict = {"batch_s": [], "write_small_s": [], "get_s": [], "info_s": [], "calls": []}
    undo = _timed_wrappers(tracer, out["batch_s"], out["write_small_s"])
    files0 = _count_files(wh)
    keys0 = _count_files(os.path.join(wh, "records_keys"))
    try:
        with procstat.Sampler() as samp:
            t0 = t = time.time()
            cpu0 = procstat.cpu_split()
            with tracer.span("pipeline.run_pipeline"):
                out["batches"] = run_pipeline(spark, pages_dir, wh)
            out["update_s"] = time.time() - t
            out["pipeline_python_cpu_s"] = procstat.cpu_split()["python_workers"] - cpu0["python_workers"]
            out["files_written"] = _count_files(wh) - files0
            out["keys_files_written"] = _count_files(os.path.join(wh, "records_keys")) - keys0
            out["records_files"] = _count_files(records)
            out["keys_files"] = _count_files(os.path.join(wh, "records_keys"))

            # the client holds one table handle, as a long-lived server would
            handle = spark.read.parquet(records)
            for i in range(plan.n_gets):
                key = plan.keys[i % len(plan.keys)]
                t = time.time()
                with tracer.span("lookup.get"):
                    rows = get_records(handle, *key).collect()
                out["get_s"].append(time.time() - t)
                out["calls"].append(("get", key, rows))
                if (i + 1) % (INFO_EVERY - 1) == 0 or i == plan.n_gets - 1 and not out["info_s"]:
                    t = time.time()
                    with tracer.span("aggregate.info"):
                        rows = info(handle).collect()
                    out["info_s"].append(time.time() - t)
                    out["calls"].append(("info", None, rows))
            out["phase_s"] = time.time() - t0
    finally:
        undo()
    out["cpu"] = samp.cpu
    out["peak_rss"] = samp.peak_rss
    out["steal_s"] = samp.steal
    return out


def _archive(wh: str) -> tuple[int, str]:
    """``cli archive``; returns its exit code and its JSON line."""
    from log_server_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["archive", "--warehouse", wh])
    return rc, buf.getvalue()


def _warm_up(ctx: Ctx, wh: str, keys: list) -> None:
    """Lookups and an ``info`` on the set-up warehouse, so the timed serve
    loop does not pay for the JVM compiling those paths (the history ingest
    already ran the update path)."""
    from log_server_spark.operators.aggregate import info
    from log_server_spark.operators.lookup import get_records

    handle = ctx.spark.read.parquet(os.path.join(wh, "records"))
    for key in keys[:WARM_GETS]:
        get_records(handle, *key).collect()
    info(handle).collect()


def _check_archive(ctx: Ctx, archived: tuple[int, str], want_rows: int) -> dict:
    """``archive`` exits 0 and keeps every history row the reference parser
    expects (distinct ok records plus distinct error rows)."""
    rc, text = archived
    ctx.attempted += 1
    try:
        summary = json.loads(text.strip().splitlines()[-1])
    except (ValueError, IndexError):
        ctx.problems.append(f"archive exit {rc}, output {text[-200:]!r}")
        return {}
    if rc != 0 or summary["rows"] != want_rows:
        ctx.problems.append(f"archive exit {rc}, kept {summary['rows']} rows, expected {want_rows}")
    return summary


def _check_replay(ctx: Ctx, res: dict, want_batch: dict, wh: str) -> None:
    batches = res["batches"]
    ctx.attempted += 1
    if len(batches) != 1:
        ctx.problems.append(f"update ran {len(batches)} batches, expected 1")
    else:
        ctx.problems += checks.check_batch(batches[0], want_batch)
    records = checks.read_records(os.path.join(wh, "records"))
    ctx.ok(checks.check_sink_stats(os.path.join(wh, "metrics_sink_stats"), records))
    want_info = checks.expected_info(records)
    for kind, key, rows in res["calls"]:
        if kind == "info":
            ctx.ok(checks.check_info(rows, want_info))
        else:
            ctx.ok(checks.check_get(rows, checks.expected_get(records, *key)))


def _replay_user_metrics(res: dict, input_bytes: int, wh: str, n_pages: int) -> dict:
    return {
        "ingest_pages_per_s": n_pages / res["update_s"],
        "batch_p50_s": statistics.median(res["batch_s"]),
        "get_p50_ms": statistics.median(_ms(res["get_s"])),
        "get_p90_ms": pct(_ms(res["get_s"]), 0.90),
        "info_p50_ms": statistics.median(_ms(res["info_s"])),
        "stored_bytes_per_input_byte": _dir_bytes(wh) / input_bytes,
    }


def _layer_probes(ctx: Ctx, tracer: spans.Tracer, wh: str, replay_paths: list[str], lookups: tuple) -> dict:
    """Direct calls into parse, enrich/route and dedup on the replay input,
    each forced with the noop sink, against the pre-update warehouse."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from log_server_spark.functions.parse import parse_pages
    from log_server_spark.operators.dedup import anti_join_committed, split_duplicates
    from log_server_spark.operators.enrich import enrich
    from log_server_spark.operators.route import with_sink
    from log_server_spark.catalog import Warehouse
    from log_server_spark.plans.pipeline import _committed_keys

    spark = ctx.spark
    pages = spark.read.parquet(*replay_paths)
    out = {}

    obs = Observation("parse_probe")
    with tracer.span("parse.parse_pages"), procstat.Sampler() as s:
        (
            parse_pages(pages)
            .observe(obs, F.count(F.lit(1)).alias("n"), F.sum((F.col("status") != "ok").cast("long")).alias("err"))
            .write.format("noop").mode("overwrite").save()
        )
    got = obs.get
    out.update({"parse.cpu_s": s.cpu["total"], "parse.records_out": got["n"], "parse.error_share": got["err"] / max(1, got["n"])})

    parsed = parse_pages(pages).withColumn("day", F.to_date("warc_ts")).cache()
    parsed.count()
    ok = parsed.filter(F.col("status") == "ok")
    lo, hi = ok.agg(F.min("ts_millis"), F.max("ts_millis")).first()
    with tracer.span("route.enrich_route"):
        sinks = with_sink(enrich(parsed, *lookups)).groupBy("sink").count().collect()
    sizes = [r["count"] for r in sinks]
    out["route.sink_skew"] = max(sizes) / (sum(sizes) / len(sizes))

    w = Warehouse(wh, spark)
    kept, _ = split_duplicates(ok)
    with tracer.span("dedup.anti_join"):
        anti_join_committed(kept, _committed_keys(w, (lo, hi))).write.format("noop").mode("overwrite").save()
    parsed.unpersist()
    # files and rows the committed side reads after day-partition pruning
    epoch = datetime.date(1970, 1, 1)
    days = {str(epoch + datetime.timedelta(days=d)) for d in range(lo // 86_400_000, hi // 86_400_000 + 1)}
    key_files = [
        f for f in glob.glob(os.path.join(wh, "records_keys", "batch=*", "day=*", "*.parquet"))
        if f.split("day=")[1].split("/")[0] in days
    ]
    out["dedup.keys_files_scanned"] = len(key_files)
    out["dedup.keys_rows_scanned"] = sum(pq.ParquetFile(f).metadata.num_rows for f in key_files)
    return out


def ingest_replay(ctx: Ctx) -> tuple[dict, dict]:
    from log_server_spark.plans.pipeline import run_pipeline

    sz = ctx.sizes
    inputs = os.path.join(ctx.work, "input")
    os.makedirs(inputs)
    t = time.time()
    paths = gen.write_replay_inputs(inputs, ctx.seed, sz.base_pages, sz.replay_pages)
    gen_s = time.time() - t

    # reference-parser expectations (outside set-up and timing)
    want_base, committed = checks.expected_batch(paths["base"], set())
    want_replay, committed = checks.expected_batch(paths["replay"], committed)
    pairs = sorted({(t_, rid) for t_, rid, _, _ in committed})
    plan = ServePlan(keys=gen.serve_keys(pairs, ctx.seed, 4096), n_gets=sz.gets_per_second * ctx.seconds)

    # set-up: sessions, the history ingest, its archive, read-side warm-up
    session_s = start_sessions(ctx, paths["base"])
    ctx.meta.update(_metadata(ctx))
    pages_dir = os.path.join(inputs, "pages")
    wh = os.path.join(ctx.work, "wh")
    t = time.time()
    base = run_pipeline(ctx.spark, pages_dir, wh)
    ingest_s = time.time() - t
    t = time.time()
    archived = _archive(wh)
    archive_s = time.time() - t
    t = time.time()
    _warm_up(ctx, wh, plan.keys[::-1])
    warm_s = time.time() - t
    setup_s = gen_s + statistics.median(session_s) + ingest_s + archive_s + warm_s

    wh_traced = os.path.join(ctx.work, "wh_traced")
    if ctx.trace:
        shutil.copytree(wh, wh_traced)
    for p in paths["replay"]:
        shutil.copy(p, pages_dir)

    res = replay_phase(ctx, pages_dir, wh, plan, spans.Tracer(enabled=False))
    input_bytes = sum(os.path.getsize(p) for p in paths["base"] + paths["replay"])
    user = _replay_user_metrics(res, input_bytes, wh, sz.replay_pages)
    user["archive_s"] = archive_s
    e2e = {
        "setup_s": setup_s,
        "job_s": res["phase_s"],
        "call_p50_ms": user["get_p50_ms"],
        "cpu_s": res["cpu"]["total"],
    }

    layers = {}
    if ctx.trace:
        tracer = spans.Tracer(ctx.spark, run_id=f"{ctx.seed}")
        lookups = (
            ctx.spark.read.parquet(os.path.join(inputs, "lang_lookup.parquet")),
            ctx.spark.read.parquet(os.path.join(inputs, "domain_lookup.parquet")),
        )
        probes = _layer_probes(ctx, tracer, wh_traced, paths["replay"], lookups)
        traced = replay_phase(ctx, pages_dir, wh_traced, plan, tracer)
        layers = {"spans": tracer.spans, "probes": probes, "traced": traced, "user": user,
                  "session_s": session_s, "peak_rss_mb": res["peak_rss"] / 2**20}

    t = time.time()
    ctx.attempted += 1
    ctx.problems += checks.check_batch(base[0], want_base) if len(base) == 1 else ["history ingest batch count"]
    summary = _check_archive(ctx, archived, want_base["added"] + want_base["errors"])
    _check_replay(ctx, res, want_replay, wh)
    if ctx.trace:
        _check_replay(ctx, traced, want_replay, wh_traced)
        layers["archive"] = summary
    with open(os.path.join(wh, "records_keys.bucketed")) as f:
        ctx.meta["key_buckets"] = int(f.read())
    ctx.meta["n_redelivered"] = paths["n_redelivered"]
    ctx.meta["phase_s"] = {
        "gen": gen_s, "sessions": session_s, "history_ingest": ingest_s, "archive": archive_s,
        "warm_up": warm_s, "update": res["update_s"], "serve": sum(res["get_s"]) + sum(res["info_s"]),
        "check": time.time() - t, "host_steal_in_timed_phase": res["steal_s"],
    }
    return e2e, layers


# -- query_suite -------------------------------------------------------------


def suite_pass(ctx: Ctx, sf_dir: str, tracer: spans.Tracer, collect: bool = False) -> tuple[list, dict]:
    """One pass over QUERIES, clearCache between queries; noop sink unless
    ``collect`` (then the pandas results are returned for the checks)."""
    import __spark_entry__

    registry = __spark_entry__.queries()
    times, results = [], {}
    for name in QUERIES:
        t = time.time()
        try:
            with tracer.span(f"query.{name}"):
                df = registry[name](ctx.spark, sf_dir)
                if collect:
                    results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is a failed operation, not a crash
            ctx.problems.append(f"{name}: raised {type(e).__name__}: {str(e).splitlines()[0][:200]}")
        times.append((name, time.time() - t))
        ctx.spark.catalog.clearCache()
    return times, results


def query_suite(ctx: Ctx) -> tuple[dict, dict]:
    sz = ctx.sizes
    sf_dir = os.path.join(ctx.work, "sf")
    t = time.time()
    gen.write_query_tables(sf_dir, ctx.seed, sz.docs, sz.events, sz.vecs)
    gen_s = time.time() - t

    session_s = start_sessions(ctx, [os.path.join(sf_dir, f"{n}.parquet") for n in QUERY_TABLES])
    ctx.meta.update(_metadata(ctx))
    off = spans.Tracer(enabled=False)
    # two untimed passes: the first collects the results for the checks,
    # the second lets the JVM finish compiling the query plans' code paths
    t = time.time()
    _, results = suite_pass(ctx, sf_dir, off, collect=True)
    suite_pass(ctx, sf_dir, off)
    prep_s = time.time() - t
    setup_s = gen_s + statistics.median(session_s) + prep_s

    n_passes = max(1, round(ctx.seconds / 10))
    passes = []
    with procstat.Sampler() as samp:
        for _ in range(n_passes):
            times, _ = suite_pass(ctx, sf_dir, off)
            passes.append(times)
    ctx.attempted += n_passes * len(QUERIES)
    pass_s = [sum(t for _, t in p) for p in passes]
    ctx.meta["phase_s"] = {"gen": gen_s, "sessions": session_s, "warm_passes": prep_s, "passes": passes,
                           "host_steal_in_timed_phase": samp.steal}
    per_query = [t for p in passes for _, t in p]
    e2e = {
        "setup_s": setup_s,
        "job_s": statistics.median(pass_s),
        "call_p50_ms": statistics.median(per_query) * 1e3,
        "cpu_s": samp.cpu["total"] / n_passes,
    }

    layers = {}
    if ctx.trace:
        tracer = spans.Tracer(ctx.spark, run_id=f"{ctx.seed}")
        with tracer.span("query_suite.pass"):
            suite_pass(ctx, sf_dir, tracer)
        ctx.attempted += len(QUERIES)
        layers = {"spans": tracer.spans, "session_s": session_s, "peak_rss_mb": samp.peak_rss / 2**20,
                  "user": {"query_suite_s": statistics.median(pass_s)}}

    import __spark_entry__

    con = checks.oracle_connection(sf_dir, QUERY_TABLES)
    oracles = __spark_entry__.oracle_sql()
    for name in QUERIES:  # a query that raised is already a recorded problem
        ctx.ok(checks.check_query(name, results[name], con, oracles[name]) if name in results else [])
    return e2e, layers


WORKLOADS = {"ingest_replay": ingest_replay, "query_suite": query_suite}
