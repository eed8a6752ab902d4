"""Run-report rendering — the reference's PDF print stage
(data_curation_print.sas: top-N per query + ods pdf; edc_report.sas
multi-page report) recast as one Markdown file per run.

Input is the tiny downstream tables only (reports/metrics/exceptions/
completeness/lineage); the renderer never touches the fact table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pcornet_data_curation_spark.operators.reports import _pct_expr

TOP_N = 50  # print limit parity (reference obs=50, %prnt)


def _md_table(pdf) -> str:
    if len(pdf) == 0:
        return "_(empty)_\n"
    cols = list(pdf.columns)
    lines = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    for _, row in pdf.iterrows():
        lines.append("| " + " | ".join("" if v is None else str(v) for v in row) + " |")
    return "\n".join(lines) + "\n"


def render_run_report(spark: SparkSession, output_root: str) -> str:
    """Render <output_root>/REPORT.md from the run's output tables.
    Returns the file path."""
    parts: list[str] = ["# Curation run report\n"]

    def read(name):
        return spark.read.parquet(os.path.join(output_root, name))

    meta = read("reports/run_metadata").toPandas().sort_values("meta_key")
    parts += ["## Run metadata\n", _md_table(meta)]

    verdict = read("reports/verdict_summary").toPandas()
    parts += ["## Verdict\n", _md_table(verdict)]

    exceptions = read("exceptions").orderBy("check_id").toPandas()
    n_exc = int(exceptions["exception"].sum())
    parts += [
        f"## Data checks — {n_exc} exception(s)\n",
        _md_table(exceptions),
    ]

    completeness = read("completeness").orderBy("dc_name").toPandas()
    missing = completeness[~completeness["produced"]]
    parts += [
        f"## Completeness — {len(missing)} missing report(s)\n",
        _md_table(missing if len(missing) else completeness),
    ]

    rules = (
        read("reports/rule_summary")
        .groupBy("rule_id")
        .agg(
            F.sum("records").alias("records"),
            F.sum("fail_records").alias("fail_records"),
        )
        .withColumn("fail_pct", _pct_expr(F.col("fail_records"), F.col("records")))
        .orderBy(F.col("fail_records").desc(), "rule_id")
        .limit(TOP_N)
        .toPandas()
    )
    parts += ["## Rule fail rates (all buckets)\n", _md_table(rules)]

    langs = (
        read("reports/lang_dist").orderBy("ord").limit(TOP_N).toPandas()
    )
    parts += ["## Language distribution\n", _md_table(langs)]

    domains = (
        read("reports/domain_dist")
        .orderBy(F.col("record_n").desc(), F.asc_nulls_last("host"))
        .limit(TOP_N)
        .toPandas()
    )
    parts += ["## Domain distribution (top hosts + OTHER)\n", _md_table(domains)]

    dedup = read("reports/dedup_summary").toPandas()
    parts += ["## Content duplication\n", _md_table(dedup)]

    lineage = (
        read("lineage")
        .groupBy("stage")
        .agg(
            F.sum("elapsed_sec").alias("elapsed_sec"),
            F.max("status").alias("status"),
        )
        .orderBy(F.col("elapsed_sec").desc())
        .toPandas()
    )
    lineage["elapsed_sec"] = lineage["elapsed_sec"].round(2)
    parts += ["## Stage timings (reference %elapsed)\n", _md_table(lineage)]

    path = os.path.join(output_root, "REPORT.md")
    with open(path, "w") as f:
        f.write("\n".join(parts))
    return path
