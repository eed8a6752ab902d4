"""The benchmark's workloads.

Each workload has a ``setup`` (untimed by ``run_s``, timed as
``setup_s``), a ``round`` (the closed-loop unit of work: a fixed list of
calls into the program, each started after the previous returned) and a
``trace`` (the per-layer spans, in traced runs only). Inputs come from
the seed alone.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import time
import traceback

from pyspark import StorageLevel
from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks as C
import harness as H
from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df, pages_pdf

# input sizes (see WORKLOADS.md for how they were chosen)
CRAWL_PAGES = 10_000
ORACLE_PAGES = 400
REGISTRY_SF = 0.01
REGISTRY_TABLE_SEED = 42
NEAR_SLICE = 400
TEXTCORE_SAMPLE = 2_000
EVAL_DOCS = 200
FIXTURE_BUILDS = 3

PRODUCTION = dict(
    respect_noindex=True, extract_missing_text=True, fix_mojibake=True,
    remove_boilerplate=True, dedup="drop",
)
CORPUS_OPS = [
    "stratified_sample", "hash_split", "pack_token_shards", "exact_dedup",
    "c4_sentence_dedup", "contamination_flags", "score_buckets", "gopher_repetition",
]
COUNTER_LAYERS = [
    "score", "boilerplate", "dedup_exact", "repartition", "write", "reports",
    "normalize", "near",
]
COUNTERS = ["cpu_s", "wait_s", "gc_s", "spill_mb", "tasks"]


class Ctx:
    """Per-run state: the session, counters, tracer (traced runs only)
    and the output directory."""

    def __init__(self, spark, env: H.Env, tracer: H.Tracer | None):
        self.spark = spark
        self.seed = env.seed
        self.data = env.data
        self.counters = H.SparkCounters(spark)
        self.tracer = tracer
        self.calls: list[dict] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.data, *parts)

    def call(self, name: str, fn, check) -> dict:
        """One closed-loop call: time ``fn``, count its Spark jobs, then
        (untimed) check its output. A raise or a failed check counts as
        a failed call."""
        rec = {"name": name, "problems": []}
        if self.tracer is not None:
            with self.tracer.span(f"call:{name}") as sp:
                out, err = _guarded(fn)
            rec["s"], rec["jobs"] = sp["end"] - sp["start"], sp["jobs"]
        else:
            group = self.counters.new_group(name)
            t0 = time.perf_counter()
            out, err = _guarded(fn)
            rec["s"] = time.perf_counter() - t0
            self.counters.clear_group()
            rec["counters"] = self.counters.totals(group)
            rec["jobs"] = rec["counters"]["jobs"]
        if err is None:
            out, err = _guarded(lambda: check(out))
            rec["problems"] = out if err is None else [err]
        else:
            rec["problems"] = [err]
        self.calls.append(rec)
        return rec


def _guarded(fn):
    try:
        return fn(), None
    except Exception:  # a failing call is a measured outcome, not a crash
        return None, traceback.format_exc(limit=8)


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def warm_up(spark) -> None:
    """Start the Python workers, so the first timed call does not pay
    for them."""
    from pcornet_data_curation_spark.operators.score import with_doc_stats

    sink(with_doc_stats(pages_df(spark, 400, seed=1, partitions=H.cores())))


def oracle_sample(spark, seed: int) -> list[str]:
    """Curate a seeded page sample with the default configuration and
    compare ``keep`` and ``scrubbed_text`` per url with the pandas
    oracle. Also starts the Python workers before any timed call."""
    from pcornet_data_curation_spark.oracle.pandas_ref import reference_verdicts
    from pcornet_data_curation_spark.plans.pipeline import curate

    cfg = PipelineConfig()
    cur = curate(pages_df(spark, ORACLE_PAGES, seed=seed, partitions=H.cores()), cfg)
    got = cur.select("url", "keep", "scrubbed_text").toPandas()
    pages = C.in_lookback(pages_pdf(ORACLE_PAGES, seed=seed), cfg)
    return C.verdicts_match(got, reference_verdicts(pages)[["url", "keep", "scrubbed_text"]])


# ---------------------------------------------------------------------------
# bulk_crawl
# ---------------------------------------------------------------------------


class BulkCrawl:
    """One cold run_pipeline over a seeded crawl with every production
    stage on, into a fresh output root."""

    name = "bulk_crawl"

    def setup(self, ctx: Ctx) -> dict:
        t0 = time.perf_counter()
        warm_up(ctx.spark)
        warm_s = time.perf_counter() - t0
        builds = []
        for i in range(FIXTURE_BUILDS):
            t0 = time.perf_counter()
            self.crawl_pages = ctx.path(f"crawl_pages_{i}")
            pages_df(ctx.spark, CRAWL_PAGES, seed=ctx.seed, partitions=H.cores()) \
                .write.mode("overwrite").parquet(self.crawl_pages)
            builds.append(time.perf_counter() - t0)
        return {"warm_s": warm_s, "fixture_builds_s": builds}

    def round(self, ctx: Ctx, k: int) -> list[dict]:
        from pcornet_data_curation_spark.plans.pipeline import run_pipeline

        spark = ctx.spark
        self.bulk_root = ctx.path(f"bulk_{k}")
        return [ctx.call("bulk", lambda: run_pipeline(
            spark, spark.read.parquet(self.crawl_pages),
            PipelineConfig(output_root=self.bulk_root, **PRODUCTION)),
            lambda res: C.run_totals(spark, res))]

    def extra(self, rounds: list[list[dict]]) -> dict:
        run_s = statistics.median(sum(c["s"] for c in r) for r in rounds)
        return {
            "docs_per_s": {"value": CRAWL_PAGES / run_s, "unit": "docs/s"},
            "output_mb": {"value": H.dir_mb(self.bulk_root), "unit": "MB"},
        }

    # -- per-layer spans ----------------------------------------------------
    def coverage(self, tracer: H.Tracer, layer_spans: list[dict]) -> tuple[float, float]:
        """Pipeline layer self times against the traced bulk call they
        replay."""
        covered = sum(tracer.self_time(sp) for sp in layer_spans
                      if sp["name"] in PIPELINE_LAYERS)
        return covered, tracer.duration("call:bulk")

    def trace(self, ctx: Ctx, metrics: dict) -> None:
        bulk_root = self.bulk_root
        cfg = PipelineConfig(output_root=ctx.path("layers"), **PRODUCTION)
        curated = self._row_layers(ctx, cfg, metrics)
        self._plane_layers(ctx, cfg, curated, bulk_root, metrics)
        self._corpus_layers(ctx, bulk_root, metrics)

    def _row_layers(self, ctx: Ctx, cfg: PipelineConfig, metrics: dict):
        from pcornet_data_curation_spark.functions.textcore import doc_stats_frame
        from pcornet_data_curation_spark.operators import rules as R
        from pcornet_data_curation_spark.operators.boilerplate import (
            with_boilerplate_removed,
        )
        from pcornet_data_curation_spark.operators.extract import missing_text_filled_col
        from pcornet_data_curation_spark.operators.mojibake import mojibake_fix_col
        from pcornet_data_curation_spark.operators.normalize import (
            extraction_consistent_col,
        )
        from pcornet_data_curation_spark.operators.robotsmeta import robots_noindex_col
        from pcornet_data_curation_spark.operators.score import with_doc_stats
        from pcornet_data_curation_spark.operators.verdict import with_verdict
        from pcornet_data_curation_spark.plans.pipeline import (
            CURATED_STATS,
            lookback_filter,
            salted_repartition,
            with_exact_dup_flag,
        )

        spark, tr = ctx.spark, ctx.tracer
        pages = spark.read.parquet(self.crawl_pages)
        with tr.span("scan"):
            sink(pages)

        df = _prep(ctx, lambda: lookback_filter(pages, cfg))
        df = _layer(ctx, "robotsmeta", df, lambda d: d.where(~robots_noindex_col(F.col("html"))))
        df = _layer(ctx, "extract", df, lambda d: d.select(
            "url", "warc_ts",
            missing_text_filled_col(preserve_lines=cfg.extract_preserve_lines).alias("text"),
            "lang", extraction_consistent_col().alias("extraction_ok")))
        df = _layer(ctx, "mojibake", df,
                    lambda d: d.withColumn("text", mojibake_fix_col(F.col("text"))))
        df = _layer(ctx, "boilerplate", df, lambda d: with_boilerplate_removed(d, "text"))
        df = _layer(ctx, "dedup_exact", df, with_exact_dup_flag)
        metrics["dedup_exact.dup_ratio"] = df.where("exact_dup").count() / max(df.count(), 1)
        df = _layer(ctx, "repartition", df, lambda d: salted_repartition(d, cfg), skew=True)

        # score: timed plain; the materializing pass runs under the
        # Python UDF profiler for score.python_s
        with tr.span("score"):
            t_wall = time.time()
            sink(with_doc_stats(df))
        sent, received = python_bytes(spark, t_wall)
        metrics["score.arrow_mb_in"] = sent / H.MB
        metrics["score.arrow_mb_out"] = received / H.MB
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            scored = _prep(ctx, lambda: with_doc_stats(df))
            stats = spark._profiler_collector._perf_profile_results
            metrics["score.python_s"] = sum(s.total_tt for s in stats.values())
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            spark.profile.clear()
        df.unpersist()

        texts = pages_pdf(TEXTCORE_SAMPLE, seed=ctx.seed)["text"]
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            doc_stats_frame(texts)
            times.append(time.perf_counter() - t0)
        metrics["textcore.us_per_doc"] = statistics.median(times) / len(texts) * 1e6

        flag_cols = [R.flag_name(r) for r in R.active_rules(cfg.rule_overrides)]

        def verdict():
            v = with_verdict(scored, cfg.rule_overrides)
            v = v.withColumn("keep", F.col("keep") & ~F.col("exact_dup"))
            return v.select(
                "url", "warc_ts", "lang", "bucket", *CURATED_STATS, *flag_cols, "keep",
                (~F.col("scrubbed_text").eqNullSafe(F.col("text"))).alias("scrub_hit"),
                "extraction_ok", "exact_dup", "scrubbed_text")

        return _layer(ctx, "verdict", scored, lambda _: verdict())

    def _plane_layers(self, ctx, cfg, curated, bulk_root, metrics) -> None:
        from pcornet_data_curation_spark.operators.checks import (
            DEFAULT_CHECKS,
            expected_reports_check,
            run_checks,
        )
        from pcornet_data_curation_spark.operators.drift import drift_metrics, trend_metrics
        from pcornet_data_curation_spark.operators.normalize import (
            assemble_metrics,
            melt_report,
        )
        from pcornet_data_curation_spark.operators.report_render import render_run_report
        from pcornet_data_curation_spark.plans.checkpoint import Manifest
        from pcornet_data_curation_spark.plans.pipeline import EXPECTED_REPORTS

        spark, tr = ctx.spark, ctx.tracer
        root = cfg.output_root
        curated_path = os.path.join(root, "curated")
        with tr.span("write"):
            (curated.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(curated_path))
        metrics["write.mb"] = H.dir_mb(curated_path)
        metrics["write.files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(curated_path) for f in fs)
        with tr.span("manifest"):
            manifest = Manifest.load_or_init(root, cfg.n_buckets)
            done = (spark.read.parquet(curated_path).groupBy("bucket")
                    .agg(F.count(F.lit(1)).alias("rows"),
                         F.sum(F.col("keep").cast("long")).alias("kept")).collect())
            for r in done:
                manifest.mark_done(int(r["bucket"]), int(r["rows"]), int(r["kept"]))
            manifest.save()

        cur = spark.read.parquet(curated_path)
        with tr.span("reports"):
            for name, rdf in report_frames(cur, cfg).items():
                rdf.write.mode("overwrite").parquet(os.path.join(root, "reports", name))

        with tr.span("normalize"):
            rep = os.path.join(bulk_root, "reports")
            melted = [melt_report(spark.read.parquet(os.path.join(rep, name)), name, ids)
                      for name, ids in MELT_IDS.items()]
            assemble_metrics(melted).write.mode("overwrite").parquet(
                os.path.join(root, "metrics"))

        # the run against itself: drift and trend over two metrics tables
        # of the shape a refresh compares
        now = _first_order(spark.read.parquet(os.path.join(bulk_root, "metrics")))
        prior = _first_order(spark.read.parquet(os.path.join(root, "metrics")))
        with tr.span("drift"):
            sink(drift_metrics(now, prior).unionByName(trend_metrics(DEFAULT_CHECKS, now, prior)))
        with tr.span("checks"):
            run_checks(spark.read.parquet(os.path.join(bulk_root, "metrics")), DEFAULT_CHECKS) \
                .write.mode("overwrite").parquet(os.path.join(root, "exceptions"))
            expected_reports_check(list(MELT_IDS), EXPECTED_REPORTS, spark) \
                .write.mode("overwrite").parquet(os.path.join(root, "completeness"))
        with tr.span("render"):
            render_run_report(spark, bulk_root)

    def _corpus_layers(self, ctx: Ctx, bulk_root: str, metrics: dict) -> None:
        from pcornet_data_curation_spark.operators.dedup import (
            minhash_lsh_pairs,
            near_dedup_survivors,
            unpersist_deps,
        )

        spark, tr = ctx.spark, ctx.tracer
        kept = _prep(ctx, lambda: spark.read.parquet(os.path.join(bulk_root, "curated"))
                     .where("keep"))
        ids = kept.select("url").toPandas()["url"]
        evalset = spark.createDataFrame(
            pages_pdf(EVAL_DOCS, seed=ctx.seed + 7)[["text"]].dropna())
        for op in CORPUS_OPS:
            path = ctx.path("corpus", op)
            with tr.span(f"corpus.{op}"):
                corpus_op(op, kept, evalset, ctx.seed).write.mode("overwrite").parquet(path)
            res = spark.read.parquet(path)
            if op == "exact_dedup":
                ctx.calls.append(_layer_check(op, C.distinct_text(
                    res.select("scrubbed_text").toPandas(), "scrubbed_text")))
            elif op == "hash_split":
                ctx.calls.append(_layer_check(op, C.partitions_rows(
                    res.select("url", "split").toPandas(), ids, "split", SPLITS)))

        piece = _prep(ctx, lambda: kept.orderBy("url").limit(NEAR_SLICE))
        with tr.span("near.lsh"):
            pairs = _prep(ctx, lambda: minhash_lsh_pairs(
                piece, text_col="scrubbed_text", id_col="url", threshold=0.8))
        with tr.span("near.cc"):
            survivors = near_dedup_survivors(
                piece, text_col="scrubbed_text", id_col="url", pairs=pairs)
            surv_ids = survivors.select("url").toPandas()["url"]
        cand = minhash_lsh_pairs(piece, text_col="scrubbed_text", id_col="url", threshold=0.0)
        n_cand = cand.count()
        unpersist_deps(cand)
        n_pairs = pairs.count()
        metrics["near.candidate_pairs"] = n_cand
        metrics["near.pair_yield"] = n_pairs / n_cand if n_cand else 0.0
        ctx.calls.append(_layer_check("near_dedup", C.subset_of(
            surv_ids, piece.select("url").toPandas()["url"], "near-dedup survivors")))


SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
PIPELINE_LAYERS = {
    "scan", "robotsmeta", "extract", "mojibake", "boilerplate", "dedup_exact", "repartition",
    "score", "verdict", "write", "manifest", "reports", "normalize", "drift", "checks",
    "render",
}

# the id columns run_pipeline melts each report by
MELT_IDS = {
    "rule_summary": ["bucket", "rule_id"], "pages_tag": ["dataset", "tag"],
    "lang_dist": ["category"], "warc_ym_dist": ["ym"], "tokens_by_keep": ["keep"],
    "ppl_stats": [], "warc_minmax": ["variable"], "verdict_summary": [], "url_unique": [],
    "scrub_summary": [], "run_metadata": ["meta_key"], "extraction_summary": [],
    "dash_activity": ["window"], "referential_summary": [], "domain_dist": ["host"],
    "domain_summary": [], "dedup_summary": ["mode"],
}


def _first_order(m):
    return m.where(~F.col("dc_name").startswith("drift|")
                   & ~F.col("dc_name").isin("threshold_trend", "report_staleness"))


def report_frames(cur, cfg: PipelineConfig) -> dict:
    """The ``operators.reports`` calls run_pipeline makes, with its
    arguments."""
    from pcornet_data_curation_spark.operators import reports as RP
    from pcornet_data_curation_spark.plans.pipeline import LANG_VALUESET

    plausible = cur.where(
        (F.col("warc_ts") >= F.lit("1900-01-01").cast("timestamp"))
        & (F.col("warc_ts") <= F.lit(cfg.run_date.isoformat()).cast("timestamp")))
    ym = (plausible.select(F.date_format("warc_ts", "yyyy_MM").alias("ym"))
          .groupBy("ym").agg(F.count(F.lit(1)).alias("record_n")))
    windows = RP.dash_windows(cfg.run_date, [(f"last_{y}y", {"years": y}) for y in range(1, 6)])
    valid = {"url": F.col("url").rlike("^https?://[^ \\t\\n\\r\\f]+$"),
             "lang": F.col("lang").rlike("^[a-z]{2}(-[A-Za-z]{2})?$")}
    return {
        "pages_tag": RP.tag_profile(cur, ["url", "lang", "scrubbed_text"], dataset="curated",
                                    valid_exprs=valid),
        "lang_dist": RP.n_pct(cur, "lang_pred", LANG_VALUESET, distinct_col="url"),
        "warc_ym_dist": RP.ym_dense_fill(ym),
        "tokens_by_keep": RP.cont_stats(cur, "n_tokens", group=["keep"]),
        "ppl_stats": RP.cont_stats(cur, "ppl"),
        "warc_minmax": RP.minmax_profile(cur, "warc_ts", future_after=cfg.run_date.isoformat()),
        "dash_activity": RP.dash_window_counts(cur, "warc_ts", windows, distinct_col="url"),
        "referential_summary": RP.referential_summary(cur, LANG_VALUESET),
        "domain_dist": RP.domain_dist(cur),
        "domain_summary": RP.domain_summary(cur),
    }


def corpus_op(op: str, df, evalset, seed: int):
    """One ``corpus`` CLI op through its public function, with the CLI's
    defaults for a curated table (id ``url``, text ``scrubbed_text``)."""
    from pcornet_data_curation_spark.operators import sampling as S

    kw = {"text_col": "scrubbed_text", "id_col": "url"}
    if op == "stratified_sample":
        return S.stratified_sample(df, "lang_pred", {"en": 0.5}, default_rate=1.0,
                                   id_col="url", seed=seed)
    if op == "hash_split":
        return S.hash_split(df, SPLITS, id_col="url", seed=seed)
    if op == "pack_token_shards":
        return S.pack_token_shards(df, tokens_col="n_tokens", target_tokens=20_000,
                                   part_col="bucket", order_col="url")
    if op == "exact_dedup":
        from pcornet_data_curation_spark.operators.dedup import exact_dedup

        return exact_dedup(df, **kw)
    if op == "c4_sentence_dedup":
        from pcornet_data_curation_spark.operators.c4 import c4_sentence_dedup

        return c4_sentence_dedup(df, window=3, **kw)
    if op == "contamination_flags":
        from pcornet_data_curation_spark.operators.decontam import contamination_flags

        return contamination_flags(df, evalset, k=13, bench_text_col="text", **kw)
    if op == "score_buckets":
        from pcornet_data_curation_spark.operators.quality_buckets import score_buckets

        return score_buckets(df, "ppl", group_col="lang_pred")
    if op == "gopher_repetition":
        from pcornet_data_curation_spark.operators.repetition import gopher_repetition

        return gopher_repetition(df, **kw)
    raise ValueError(op)


def _prep(ctx: Ctx, build):
    """Materialize a layer's input outside every span."""
    ctx.counters.new_group("prep")
    try:
        return materialize(build())
    finally:
        ctx.counters.clear_group()


def _layer(ctx: Ctx, name: str, df, fn, skew: bool = False):
    """Time one layer ``fn`` over its materialized input ``df``, then
    materialize its output for the next layer and release the input."""
    with ctx.tracer.span(name, skew=skew):
        sink(fn(df))
    out = _prep(ctx, lambda: fn(df))
    df.unpersist()
    return out


def _layer_check(name: str, problems: list[str]) -> dict:
    return {"name": f"check:{name}", "s": 0.0, "jobs": 0, "problems": problems}


_SIZE_RE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_total(text: str) -> float:
    """The total of a formatted size metric ('total (min, med, max ...)'
    then the values line, or a bare value)."""
    line = text.strip().splitlines()[-1]
    m = _SIZE_RE.search(line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def python_bytes(spark, since_wall: float) -> tuple[float, float]:
    """Bytes sent to and returned from Python workers by the SQL
    executions submitted since ``since_wall``, from the SQL status
    store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    sent = received = 0.0
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.submissionTime() < since_wall * 1000:
            continue
        values, it = {}, store.executionMetrics(e.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        ms = e.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            name = m.name()
            if name not in ("data sent to Python workers", "data returned from Python workers"):
                continue
            v = values.get(m.accumulatorId())
            if v is not None:
                if name.startswith("data sent"):
                    sent += _size_total(v)
                else:
                    received += _size_total(v)
    return sent, received


# ---------------------------------------------------------------------------
# registry_suite
# ---------------------------------------------------------------------------


class RegistrySuite:
    """One pass of bench.HEADLINE over seeded registry tables, each
    query written to the noop sink; the seed permutes query order."""

    name = "registry_suite"
    PINS = os.path.join(H.HERE, "registry_pins.json")

    def setup(self, ctx: Ctx) -> dict:
        import registry_tables
        from bench import HEADLINE

        verdicts = ctx.call("verdicts", lambda: oracle_sample(ctx.spark, ctx.seed), lambda out: out)
        builds = []
        for i in range(FIXTURE_BUILDS):
            t0 = time.perf_counter()
            self.tables = ctx.path(f"tables_{i}")
            registry_tables.write_tables(self.tables, REGISTRY_SF, seed=REGISTRY_TABLE_SEED)
            builds.append(time.perf_counter() - t0)
        self.order = list(HEADLINE)
        random.Random(ctx.seed).shuffle(self.order)
        with open(self.PINS) as f:
            self.pins = json.load(f)[str(REGISTRY_SF)]
        return {"verdicts_s": verdicts["s"], "fixture_builds_s": builds}

    def round(self, ctx: Ctx, k: int) -> list[dict]:
        from pcornet_data_curation_spark import queries as Q
        from pcornet_data_curation_spark.operators.dedup import unpersist_deps

        qs = Q.queries()
        self.rows: dict[str, int] = {}
        out = []
        for name in self.order:
            def run(name=name):
                df = qs[name](ctx.spark, self.tables)
                obs = Observation(f"rows_{name}_{k}")
                sink(df.observe(obs, F.count(F.lit(1)).alias("rows")))
                unpersist_deps(df)
                return obs.get["rows"]

            def check(rows, name=name):
                self.rows[name] = rows
                return C.row_count(name, rows, self.pins)

            out.append(ctx.call(f"registry.{name}", run, check))
        return out

    def extra(self, rounds: list[list[dict]]) -> dict:
        per_q = [c["s"] for r in rounds for c in r]
        return {"query_s_p50": {"value": statistics.median(per_q), "unit": "s", "n": len(per_q)}}

    def coverage(self, tracer: H.Tracer, layer_spans: list[dict]) -> tuple[float, float]:
        """Query self times against the pass that contains them."""
        return sum(tracer.self_time(sp) for sp in layer_spans), tracer.duration("e2e")

    def trace(self, ctx: Ctx, metrics: dict) -> None:
        """The query calls of the traced pass are the layer spans."""


WORKLOADS = {w.name: w for w in (BulkCrawl, RegistrySuite)}


def layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    from bench import HEADLINE

    names = ["scan.s", "scan.read_mb"]
    names += [f"{n}.s" for n in ("robotsmeta", "extract", "mojibake", "boilerplate")]
    names += ["dedup_exact.s", "dedup_exact.shuffle_mb", "dedup_exact.dup_ratio",
              "repartition.s", "repartition.shuffle_mb", "repartition.task_skew",
              "score.s", "score.python_s", "score.arrow_mb_in", "score.arrow_mb_out",
              "textcore.us_per_doc", "verdict.s",
              "write.s", "write.mb", "write.files", "manifest.s",
              "reports.s", "reports.jobs", "normalize.s", "normalize.jobs",
              "drift.s", "checks.s", "render.s",
              "near.lsh_s", "near.cc_s", "near.candidate_pairs", "near.pair_yield"]
    names += [f"corpus.{op}.s" for op in CORPUS_OPS]
    names += [f"registry.{q}.s" for q in HEADLINE]
    names += [f"{layer}.{c}" for layer in COUNTER_LAYERS for c in COUNTERS]
    names += ["trace.coverage", "trace.overhead_pct", "log.warn_lines"]
    return names


def unit_of(metric: str) -> str:
    if metric.endswith(("_mb", ".mb", "_mb_in", "_mb_out")):
        return "MB"
    if metric.endswith((".jobs", ".files", ".tasks", ".candidate_pairs", ".warn_lines")):
        return "count"
    if metric.endswith((".dup_ratio", ".pair_yield", ".task_skew", ".coverage")):
        return "ratio"
    if metric.endswith(".us_per_doc"):
        return "us/doc"
    if metric.endswith("_pct"):
        return "%"
    return "s"
