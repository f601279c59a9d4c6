"""``stream`` workload: segments of one ``availableNow`` streaming query
each, one article file per micro-batch, into ``write_stream_manifest``
with exact-key and MinHash near dedup. After each segment the dashboard
read set runs through ``read_news_tx_for_dates``, the data table is
compacted, and one warm pass evaluates two declared batch-dedup queries
(the batch forms of the stream's exact and MinHash gates) through the
``noop`` sink. A round is one segment with its read set, compaction and
query pass. Rounds repeat until the measured time is used up; every
reported figure comes from the first round (see ``harness.Ops``).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from newsmaper_etl_spark import io, sinks
from newsmaper_etl_spark import keyindex as K
from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark.fixtures import values_df
from newsmaper_etl_spark.operators.newsmaper import (
    NEWS_COLUMNS, NEWS_KEY, explode_date_parts, generate_date_dim, parse_pubdate,
    reference_keyword_map, resolve_date_key, tag_country_expr, tokenize_text,
)
from newsmaper_etl_spark.oracle import compare
from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded
from newsmaper_etl_spark.streaming.pipeline import (
    ingest_history, read_article_stream, write_stream_manifest,
)

from perfbench import harness as H
from perfbench import model
from perfbench.gen import OUTLETS, REFERENCES, StreamInputs, write_article_file, write_corpus
from perfbench.readset import run_read_set

BATCHES_PER_SEGMENT = 2
BOOT_BATCHES = 2
SETUP_REPEATS = 1
NEAR = {"id_col": "article_id", "text_col": "description", "threshold": 0.6}
READ_LO = 2023050100
READ_HI = 2023123123
#: oracle-bearing declared queries timed each round
PASS = ("q_dedup_exact", "q_minhash_dedup_planted")


def _query(spark, src_dir, table, ckpt, refs, date_dim, telemetry):
    df = read_article_stream(spark, src_dir, max_files_per_trigger=1)
    df = parse_pubdate(df)
    df = explode_date_parts(df)
    df = resolve_date_key(df, date_dim, check_misses=False)
    df = tokenize_text(df)
    df = tag_country_expr(df, reference_keyword_map(refs))
    df = df.select("article_id", *NEWS_COLUMNS)
    return write_stream_manifest(
        df, table, ckpt, trigger={"availableNow": True},
        stat_cols=("id_date",), dedup_keys=NEWS_KEY, dedup_order_col="article_id",
        near_dedup=NEAR, telemetry=telemetry,
    )


def _versions(table: str) -> int:
    return sum(
        M.current_version(t) if os.path.exists(t) else 0
        for t in (table, K.key_index_path(table), K.banded_index_path(table))
    )


def _manifest_bytes(table: str) -> int:
    return sum(
        H.dir_stats(os.path.join(t, "_manifests"), ".json")[1]
        for t in (table, K.key_index_path(table), K.banded_index_path(table))
    )


def _compact(spark, table: str) -> int:
    """Compact the data table; returns the rows rewritten."""
    before = M.current_version(table)
    after = M.compact(spark, table)
    old = {e["path"] for e in M._load_manifest(table, before)["files"]}
    new = {e["path"] for e in M._load_manifest(table, after)["files"]}
    return sum(pq.ParquetFile(os.path.join(table, p)).metadata.num_rows for p in old - new)


def _query_pass(spark, sf_dir: str, tr) -> dict[str, tuple]:
    """name -> (build s, eval s, cpu s) for one pass over PASS."""
    _ensure_loaded()
    out = {}
    for name in PASS:
        with tr.span(f"plans.{name}"):
            c0 = H.tree_cpu_s()
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            out[name] = (t1 - t0, t2 - t1, H.tree_cpu_s() - c0)
    return out


def _check_queries(spark, sf_dir: str) -> list[str]:
    """Every query of the pass against its DuckDB oracle."""
    errors = []
    for name in PASS:
        res = compare(name, QUERIES[name].fn(spark, sf_dir), QUERIES[name].oracle, sf_dir)
        if not res.ok:
            errors.append(f"{name}: {res.detail.splitlines()[0] if res.detail else 'mismatch'}")
    return errors


def run(seed: int, seconds: float, trace: bool) -> None:
    work = H.new_workdir("stream")
    log = H.pin_environment(work)
    # ---- input generation (before Spark; not part of set-up) ----
    gens, dirs = [], []
    for i in range(SETUP_REPEATS):
        g = StreamInputs(seed)
        d = {k: os.path.join(work, f"s{i}", k) for k in ("in", "table", "ckpt", "date")}
        os.makedirs(d["in"])
        for f in range(BOOT_BATCHES):
            write_article_file(d["in"], f, g.make_file())
        gens.append(g)
        dirs.append(d)
    # the directory name carries the scale: io.parse_sf reads it
    sf_dir = os.path.join(work, "corpus", "sf0.01")
    os.makedirs(sf_dir)
    write_corpus(sf_dir, seed)

    H.phase(log, "inputs")
    session = H.Meter()
    spark, t_session = H.start_spark(work)
    try:
        setup = H.Setup(session.stop())
        tr = H.Tracer(spark, trace)
        refs = values_df(spark, [(i, n, w) for i, n, w in REFERENCES], ["id", "name", "words"])
        countries = values_df(spark, [(i, n) for i, n in model.COUNTRY_NAMES.items()], ["id", "name"])
        source_names = {s: f"outlet{s}" for s in range(1, OUTLETS + 1)}
        src_dim = values_df(spark, list(source_names.items()), ["id", "name"])

        # ---- set-up: date dim, then table + side-index bootstrap ----
        repeats = []
        for d in dirs:
            m = H.Meter()
            generate_date_dim(spark, "2023-01-01 00:00:00", "2023-12-31 23:00:00").write.parquet(d["date"])
            date_dim = spark.read.parquet(d["date"])
            with tr.span("streaming.bootstrap"):
                _query(spark, d["in"], d["table"], d["ckpt"], refs, date_dim, trace).awaitTermination()
            repeats.append(m.stop())
        setup.add_median(repeats)
        gen, src_dir, table, ckpt = gens[-1], dirs[-1]["in"], dirs[-1]["table"], dirs[-1]["ckpt"]
        # the corpus into the io table cache, then one warm-up query pass
        m = H.Meter()
        with tr.span("io.load_tables"):
            io.load_table(spark, sf_dir, "documents").count()
        t_load = m.stop()[0]
        _query_pass(spark, sf_dir, tr)
        setup.add(m.stop())
        tr.start_timing()
        H.phase(log, "setup")

        ops = H.Ops()
        passes, compacts = [], []
        per_seg: dict[str, list] = {k: [] for k in (
            "add_batch", "planning", "offsets", "commits", "json_bytes", "data_files",
            "read_files", "side_files", "side_bytes", "jobs", "task_cpu")}
        errors: list[str] = []
        gc0, steal0 = H.jvm_gc_s(spark), H.steal_s()
        t_start = time.perf_counter()
        while True:
            for _ in range(BATCHES_PER_SEGMENT):  # input generation, untimed
                rows = gen.make_file()
                write_article_file(src_dir, len(gen.files) - 1, rows)
            tr.new_trace()
            v0, b0 = _versions(table), _manifest_bytes(table)
            jobs0 = H.job_ids(spark) if trace else set()
            m = H.Meter()
            with tr.span("streaming.segment"):
                q = _query(spark, src_dir, table, ckpt, refs, date_dim, trace)
                q.awaitTermination()
            seg = m.stop()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            nb = max(1, len(progress))
            for p in progress:
                d = p["durationMs"]
                # per-batch CPU is not separable inside one query run: each
                # batch carries an equal share of the segment's CPU
                ops.cycle((d["triggerExecution"] / 1000.0, seg[1] / nb), p["numInputRows"])
                per_seg["add_batch"].append(d.get("addBatch", 0) / 1000.0)
                per_seg["planning"].append(d.get("queryPlanning", 0) / 1000.0)
                per_seg["offsets"].append(sum(d.get(k, 0) for k in (
                    "latestOffset", "getBatch", "walCommit", "commitOffsets")) / 1000.0)
            per_seg["commits"].append((_versions(table) - v0) / nb)
            per_seg["json_bytes"].append((_manifest_bytes(table) - b0) / nb)
            if trace:
                new_jobs = H.job_ids(spark) - jobs0
                per_seg["jobs"].append(len(new_jobs) / nb)
                per_seg["task_cpu"].append(H.jobs_cpu_s(spark, new_jobs) / nb)
            side = [H.dir_stats(K.key_index_path(table)), H.dir_stats(K.banded_index_path(table))]
            per_seg["side_files"].append(sum(n for n, _ in side))
            per_seg["side_bytes"].append(sum(b for _, b in side))
            per_seg["data_files"].append(len(M._load_manifest(table, M.current_version(table))["files"]))

            m = H.Meter()
            with tr.span("sinks.read_news_tx_for_dates"):
                news = sinks.read_news_tx_for_dates(spark, table, READ_LO, READ_HI)
                got = run_read_set(news, countries, src_dim)
            read = m.stop()
            ops.reads.append(read)
            per_seg["read_files"].append(H.files_scanned(news))

            m = H.Meter()
            with tr.span("manifest.compact"):
                rows = _compact(spark, table)
            maint = m.stop()
            ops.maint(maint, rows)
            compacts.append(maint[0])

            passes.append(_query_pass(spark, sf_dir, tr))
            ops.queries += [(b + e, c) for b, e, c in passes[-1].values()]
            ops.round([seg, read, maint] + ops.queries[-len(PASS):])

            # compaction moves no rows, so the read set's answers still hold
            committed = [r.asDict() for r in M.read_table(spark, table).collect()]
            want = model.dashboard(
                [(r["id_country"], r["id_source"], r["id_date"], r["title"]) for r in committed],
                READ_LO, READ_HI, source_names)
            errors.extend(model.expect(f"segment {len(ops.rounds)} dashboard", got, want))
            if time.perf_counter() - t_start >= seconds:
                break
        gc_s = H.jvm_gc_s(spark) - gc0
        H.phase(log, "timed")
        steal = H.steal_s() - steal0

        errors += _check_queries(spark, sf_dir)
        committed = [r.asDict() for r in M.read_table(spark, table).collect()]
        errors += model.check_stream(
            committed, gen.all_articles(), gen.kind, gen.batch_of, NEAR["threshold"])
        recall = model.near_recall({r["article_id"] for r in committed}, gen.kind)
        log.update(workload="stream", seed=seed, steal_s=round(steal, 2),
                   committed=len(committed), near_recall=recall, errors=errors[:5],
                   **ops.summary(), setup_wall_s=setup.wall,
                   query_pass_s=round(sum(b + e for b, e, _ in passes[0].values()), 3))
        if trace:
            groups = H.stage_metrics_by_group(spark)
            tr.write(os.path.join(H.WORK_ROOT, f"trace-stream-{seed}.json"), groups,
                     gates=ingest_history(table))
            metrics = H.zero_layer_metrics()
            metrics.update({
                "session.get_spark_s": (t_session, "s"),
                "session.gc_s": (gc_s, "s"),
                "io.load_tables_s": (t_load, "s"),
                "sinks.read_news_tx_for_dates_s": (H.median([w for w, _ in ops.reads]), "s"),
                "streaming.add_batch_s": (H.median(per_seg["add_batch"]), "s"),
                "streaming.planning_s": (H.median(per_seg["planning"]), "s"),
                "streaming.offsets_s": (H.median(per_seg["offsets"]), "s"),
                "streaming.jobs_per_batch": (H.median(per_seg["jobs"]), "count"),
                "streaming.task_cpu_s_per_batch": (H.median(per_seg["task_cpu"]), "s"),
                "keyindex.side_files": (H.median(per_seg["side_files"]), "count"),
                "keyindex.side_bytes": (H.median(per_seg["side_bytes"]), "bytes"),
                "keyindex.near_recall": (recall, "ratio"),
                "manifest.commits_per_batch": (H.median(per_seg["commits"]), "count"),
                "manifest.json_bytes": (H.median(per_seg["json_bytes"]), "bytes"),
                "manifest.data_files": (H.median(per_seg["data_files"]), "count"),
                "manifest.read_files_scanned": (H.median(per_seg["read_files"]), "count"),
                "manifest.compact_s": (H.median(compacts), "s"),
                **_plans_metrics(tr, groups, passes),
            })
        else:
            metrics = ops.end_to_end(setup)
        H.phase(log, "checked")
        result = (not errors, ops.attempted, 0, metrics, log)
    finally:
        H.stop_spark(spark)
    H.phase(log, "stopped")
    H.emit(*result)


def _plans_metrics(tr, groups: dict, passes: list[dict]) -> dict:
    """Per-pass build/eval split and stage totals of the query pass."""
    per_pass = []
    for i in range(len(passes)):
        tot = dict(H.EMPTY_GROUP)
        for name in PASS:
            for k, v in tr.stage_totals(tr.timed(f"plans.{name}")[i], groups).items():
                tot[k] += v
        per_pass.append(tot)

    def pm(k):
        return H.median([p[k] for p in per_pass])

    def med(name, k):
        return H.median([p[name][k] for p in passes])

    return {
        "plans.build_s": (H.median([sum(b for b, _, _ in p.values()) for p in passes]), "s"),
        "plans.eval_s": (H.median([sum(e for _, e, _ in p.values()) for p in passes]), "s"),
        "plans.jobs": (pm("jobs"), "count"),
        "plans.stages": (pm("stages"), "count"),
        "plans.tasks": (pm("tasks"), "count"),
        "plans.executor_run_s": (pm("executor_run_s"), "s"),
        "plans.executor_cpu_s": (pm("executor_cpu_s"), "s"),
        "plans.shuffle_bytes": (pm("shuffle_write_bytes"), "bytes"),
        "plans.spill_bytes": (pm("memory_spill_bytes") + pm("disk_spill_bytes"), "bytes"),
        **{f"plans.{name}.{part}_s": (med(name, k), "s")
           for name in PASS for k, part in ((0, "build"), (1, "eval"))},
    }
