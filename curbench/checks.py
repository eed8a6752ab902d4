"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.plans.pipeline import EXPECTED_REPORTS


def verdicts_match(curated: pd.DataFrame, reference: pd.DataFrame) -> list[str]:
    """``keep`` and ``scrubbed_text`` per url of a curated table equal the
    pandas reference's."""
    m = curated.merge(reference, on="url", how="outer", suffixes=("_s", "_r"), indicator=True)
    problems = []
    lost = int((m["_merge"] != "both").sum())
    if lost:
        problems.append(f"{lost} urls in only one of curated/reference")
    both = m[m["_merge"] == "both"]
    bad_keep = int((both["keep_s"].astype(bool) != both["keep_r"].astype(bool)).sum())
    if bad_keep:
        problems.append(f"keep differs from the reference on {bad_keep} urls")
    null = "\0"
    bad_text = int(
        (both["scrubbed_text_s"].fillna(null) != both["scrubbed_text_r"].fillna(null)).sum()
    )
    if bad_text:
        problems.append(f"scrubbed_text differs from the reference on {bad_text} urls")
    return problems


def in_lookback(pages: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """The pages ``lookback_filter`` keeps: NULL warc_ts or not older
    than the cutoff."""
    cut = pd.Timestamp(cfg.lookback_cutoff)
    return pages[pages["warc_ts"].isna() | (pages["warc_ts"] >= cut)]


def completeness(spark, root: str) -> list[str]:
    comp = spark.read.parquet(os.path.join(root, "completeness")).toPandas()
    produced = set(comp.loc[comp["produced"], "dc_name"])
    if produced != set(EXPECTED_REPORTS):
        missing = sorted(set(EXPECTED_REPORTS) - produced)
        return [f"completeness {len(produced)}/{len(EXPECTED_REPORTS)}, missing {missing}"]
    return []


def run_totals(spark, res: dict) -> list[str]:
    """Manifest, curated row/kept counts and ``verdict_summary`` agree."""
    with open(res["manifest"]) as f:
        manifest = json.load(f)
    buckets = manifest["buckets"].values()
    m_rows = sum(b["rows"] for b in buckets)
    m_kept = sum(b["kept"] for b in buckets)
    cur = spark.read.parquet(res["curated"]).agg(
        F.count(F.lit(1)).alias("rows"), F.sum(F.col("keep").cast("long")).alias("kept")
    ).first()
    vs = spark.read.parquet(os.path.join(res["reports"], "verdict_summary")).first()
    problems = []
    if len(manifest["buckets"]) != manifest["n_buckets"]:
        problems.append(f"manifest has {len(manifest['buckets'])}/{manifest['n_buckets']} buckets")
    if not (m_rows == cur["rows"] == vs["records"] == res["stats"]["rows"]):
        problems.append(
            f"row counts disagree: manifest {m_rows}, curated {cur['rows']}, "
            f"verdict_summary {vs['records']}, stats {res['stats']['rows']}"
        )
    if not (m_kept == (cur["kept"] or 0) == vs["kept"] == res["stats"]["kept"]):
        problems.append(
            f"kept counts disagree: manifest {m_kept}, curated {cur['kept']}, "
            f"verdict_summary {vs['kept']}, stats {res['stats']['kept']}"
        )
    return problems + completeness(spark, os.path.dirname(res["curated"]))


def distinct_text(pdf: pd.DataFrame, text_col: str) -> list[str]:
    dups = int(pdf[text_col].dropna().duplicated().sum())
    return [f"exact-dedup survivors repeat {dups} texts"] if dups else []


def partitions_rows(pdf: pd.DataFrame, ids: pd.Series, split_col: str, names) -> list[str]:
    """Every input id lands in exactly one named split."""
    problems = []
    if len(pdf) != len(ids) or set(pdf["url"]) != set(ids):
        problems.append(f"split output has {len(pdf)} rows for {len(ids)} input rows")
    bad = set(pdf[split_col].dropna()) - set(names)
    if bad or pdf[split_col].isna().any():
        problems.append(f"rows outside the named splits: {sorted(bad)}")
    return problems


def subset_of(out_ids: pd.Series, in_ids: pd.Series, what: str) -> list[str]:
    extra = set(out_ids) - set(in_ids)
    problems = [f"{what}: {len(extra)} ids not in the input"] if extra else []
    if out_ids.duplicated().any():
        problems.append(f"{what}: repeated ids")
    return problems


def row_count(query: str, rows: int, pins: dict[str, int]) -> list[str]:
    want = pins.get(query)
    return [] if rows == want else [f"{query}: {rows} rows, pinned {want}"]
