"""``poll`` workload: repeated RSS poll cycles into a seeded warehouse.

A round is ``ROUND_CYCLES`` cycles, each ``read_rss`` → ``run_pipeline``
→ ``append_news`` followed by the dashboard read set, then one
keep-first ``rewrite_dedup``. Rounds repeat until the measured time is
used up; every reported figure comes from the first round (see
``harness.Ops``).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from newsmaper_etl_spark import sinks
from newsmaper_etl_spark.operators.newsmaper import run_pipeline
from newsmaper_etl_spark.sources import read_references_json, read_rss, read_sources_csv

from perfbench import harness as H
from perfbench import model
from perfbench.gen import PollInputs, write_references
from perfbench.readset import run_read_set

ROUND_CYCLES = 4
SETUP_REPEATS = 2
#: dashboard range: the last week of the seeded history onward
_READ_FROM = PollInputs.T0 + dt.timedelta(
    minutes=PollInputs.HISTORY * PollInputs.ITEM_STEP_MIN) - dt.timedelta(days=7)
READ_LO = int(_READ_FROM.strftime("%Y%m%d")) * 100
READ_HI = 2023123123


def _history_parquet(inputs: PollInputs, path: str) -> list[tuple]:
    rows = [model.fact_row(s, it) for s, it in inputs.history()]
    cols = list(zip(*rows))
    table = pa.table({
        "id_country": pa.array(cols[0], pa.int32()),
        "id_source": pa.array(cols[1], pa.int32()),
        "id_date": pa.array(cols[2], pa.int32()),
        "title": pa.array(cols[3], pa.string()),
        "link": pa.array(cols[4], pa.string()),
        "description": pa.array(cols[5], pa.string()),
        "media": pa.array(cols[6], pa.string()),
    })
    pq.write_table(table, path)
    return rows


def run(seed: int, seconds: float, trace: bool) -> None:
    work = H.new_workdir("poll")
    log = H.pin_environment(work)
    # ---- input generation (before Spark; not part of set-up) ----
    inputs = PollInputs(seed)
    hist_path = os.path.join(work, "history.parquet")
    hist_rows = _history_parquet(inputs, hist_path)
    feed_dir = os.path.join(work, "feeds")
    os.makedirs(feed_dir)
    with open(os.path.join(work, "sources.csv"), "w") as f:
        f.write("name,website,rss\n")
        for s, name in inputs.sources():
            f.write(f"{name},https://{name}.example,file://{feed_dir}/feed{s}.xml\n")
    write_references(os.path.join(work, "references.json"))

    # ---- set-up: session, then warehouse bootstrap + history, repeated ----
    H.phase(log, "inputs")
    session = H.Meter()
    spark, t_session = H.start_spark(work)
    try:
        setup = H.Setup(session.stop())
        tr = H.Tracer(spark, trace)
        boots, repeats = [], []
        for i in range(SETUP_REPEATS):
            m = H.Meter()
            wh = os.path.join(work, f"wh{i}")
            sources = read_sources_csv(spark, os.path.join(work, "sources.csv"))
            references = read_references_json(spark, os.path.join(work, "references.json"))
            with tr.span("sinks.bootstrap"):
                sinks.bootstrap(spark, wh, sources=sources, references=references)
            boots.append(m.stop()[0])
            with tr.span("sinks.append_news.history"):
                seeded = sinks.append_news(spark, spark.read.parquet(hist_path), wh)
            repeats.append(m.stop())
        setup.add_median(repeats)
        date_dim = spark.read.parquet(os.path.join(wh, "date"))
        countries = spark.read.parquet(os.path.join(wh, "countries"))
        src_dim = spark.read.parquet(os.path.join(wh, "sources"))
        source_names = {s: n for s, n in inputs.sources()}

        wm = model.WarehouseModel()
        errors = model.expect("history seeded", seeded, wm.append(hist_rows))
        ops = H.Ops()
        per_cycle: dict[str, list] = {k: [] for k in (
            "files_written", "table_files", "read_files")}

        def cycle(c: int) -> tuple[float, float]:
            inputs.write_feeds(feed_dir, c)  # input generation, untimed
            offered = [model.fact_row(s, it) for s, it in inputs.cycle(c)]
            files_before = H.dir_stats(os.path.join(wh, "news"))[0]
            tr.new_trace()
            m = H.Meter()
            with tr.span("cycle"):
                with tr.span("sources.read_rss"):
                    articles = read_rss(spark, sources)
                    if trace:
                        with tr.span("sources.read_rss.materialize"):
                            articles.write.format("noop").mode("overwrite").save()
                with tr.span("newsmaper.run_pipeline"):
                    new_rows = run_pipeline(
                        articles=articles, references=references,
                        date_dim=date_dim, news_existing=sinks.read_news(spark, wh),
                    )
                    if trace:
                        with tr.span("newsmaper.run_pipeline.materialize"):
                            new_rows.write.format("noop").mode("overwrite").save()
                with tr.span("sinks.append_news"):
                    appended = sinks.append_news(spark, new_rows, wh)
            wc = m.stop()
            errors.extend(model.expect(f"cycle {c} appended", appended, wm.append(offered)))
            files_after = H.dir_stats(os.path.join(wh, "news"))[0]
            per_cycle["files_written"].append(files_after - files_before)
            per_cycle["table_files"].append(files_after)
            ops.cycle(wc, len(offered))
            return wc

        def read_set(c: int) -> tuple[float, float]:
            m = H.Meter()
            with tr.span("sinks.read_news_for_dates"):
                news = sinks.read_news_for_dates(spark, wh, READ_LO, READ_HI)
                got = run_read_set(news, countries, src_dim)
            wc = m.stop()
            if trace:
                per_cycle["read_files"].append(H.files_scanned(news))
            want = model.dashboard(wm.rows, READ_LO, READ_HI, source_names)
            errors.extend(model.expect(f"cycle {c} dashboard", got, want))
            if not want["star"]:
                errors.append(f"cycle {c}: the dashboard range selects no rows")
            ops.reads.append(wc)
            return wc

        # warm-up, part of set-up: the first cycle starts the Python workers
        # and compiles the plans; users pay it once per process
        m = H.Meter()
        cycle(0)
        read_set(0)
        setup.add(m.stop())
        ops = H.Ops()
        for v in per_cycle.values():
            v.clear()
        tr.start_timing()
        H.phase(log, "setup")

        gc0, steal0 = H.jvm_gc_s(spark), H.steal_s()
        t_start = time.perf_counter()
        c = 1
        while True:
            parts = []
            for _ in range(ROUND_CYCLES):
                parts += [cycle(c), read_set(c)]
                c += 1
            m = H.Meter()
            with tr.span("sinks.rewrite_dedup"):
                sinks.rewrite_dedup(spark, wh)
            wc = m.stop()
            news = sinks.read_news(spark, wh)
            got_rows = news.count()
            got_keys = news.select(*model.NEWS_KEY).distinct().count()
            errors.extend(model.expect(
                f"rewrite after cycle {c} (rows, keys)", (got_rows, got_keys), wm.rewrite()))
            ops.maint(wc, got_rows)
            ops.round(parts + [wc])
            if time.perf_counter() - t_start >= seconds:
                break
        gc_s = H.jvm_gc_s(spark) - gc0
        H.phase(log, "timed")
        log.update(workload="poll", seed=seed, steal_s=round(H.steal_s() - steal0, 2),
                   errors=errors[:5], **ops.summary(), setup_wall_s=setup.wall)

        if trace:
            groups = H.stage_metrics_by_group(spark)
            tr.write(os.path.join(H.WORK_ROOT, f"trace-poll-{seed}.json"), groups)
            metrics = _layer_metrics(tr, groups, t_session, boots, gc_s, per_cycle)
        else:
            metrics = ops.end_to_end(setup)
        H.phase(log, "checked")
        result = (not errors, ops.attempted, 0, metrics, log)
    finally:
        H.stop_spark(spark)
    H.phase(log, "stopped")
    H.emit(*result)


def _layer_metrics(tr, groups, t_session, boots, gc_s, per_cycle) -> dict:
    """Per-layer split from spans. Each boundary is materialized once with
    the noop sink, and each materialization re-runs the lazy plan above
    it, so a layer's self time is its span minus the upstream
    materialization."""
    def per_span(name):
        return [s["end"] - s["start"] for s in tr.timed(name)]

    rss = per_span("sources.read_rss")
    rss_mat = per_span("sources.read_rss.materialize")
    pipe = per_span("newsmaper.run_pipeline")
    pipe_mat = per_span("newsmaper.run_pipeline.materialize")
    app = per_span("sinks.append_news")
    rss_g = _per_call(tr, groups, "sources.read_rss")
    pipe_g = _per_call(tr, groups, "newsmaper.run_pipeline")
    app_g = _per_call(tr, groups, "sinks.append_news")
    rw_g = _per_call(tr, groups, "sinks.rewrite_dedup")
    out = H.zero_layer_metrics()
    out.update({
        "session.get_spark_s": (t_session, "s"),
        "session.gc_s": (gc_s, "s"),
        "sources.read_rss_s": (H.median(rss), "s"),
        "sources.read_rss_task_cpu_s": (H.median([g["executor_cpu_s"] for g in rss_g]), "s"),
        "newsmaper.run_pipeline_s": (
            H.median([p - r for p, r in zip(pipe, rss_mat)]), "s"),
        "newsmaper.shuffle_bytes": (
            H.median([g["shuffle_write_bytes"] for g in pipe_g]), "bytes"),
        "newsmaper.jobs": (H.median([g["jobs"] for g in pipe_g]), "count"),
        "sinks.bootstrap_s": (H.median(boots), "s"),
        "sinks.append_news_s": (H.median([a - p for a, p in zip(app, pipe_mat)]), "s"),
        "sinks.append_news_jobs": (H.median([g["jobs"] for g in app_g]), "count"),
        "sinks.existing_rows_scanned": (
            H.median([g["input_records"] for g in app_g]), "rows"),
        "sinks.files_written": (H.median(per_cycle["files_written"]), "count"),
        "sinks.table_files": (H.median(per_cycle["table_files"]), "count"),
        "sinks.rewrite_dedup_s": (H.median(per_span("sinks.rewrite_dedup")), "s"),
        "sinks.rewrite_bytes_written": (
            H.median([g["output_bytes"] for g in rw_g]), "bytes"),
        "sinks.read_news_for_dates_s": (
            H.median(per_span("sinks.read_news_for_dates")), "s"),
        "sinks.read_files_scanned": (H.median(per_cycle["read_files"]), "count"),
    })
    return out


def _per_call(tr, groups: dict, name: str) -> list[dict]:
    """Stage metrics of each measured call of span ``name`` (its own jobs
    and its children's), in call order."""
    return [tr.stage_totals(s, groups) for s in tr.timed(name)] or [H.EMPTY_GROUP]
