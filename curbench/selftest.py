#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 curbench/selftest.py

Runs every workload once untraced and once traced with ``--tiny``,
asserts each run is correct and reports every metric BENCHMARK.json
names with its unit, then asserts that the output checks reject
corrupted results (a flipped ``keep``, a changed ``scrubbed_text``, a
wrong query row count, a repeated text, a lost split row, a foreign
near-dedup survivor). Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    assert proc.returncode == 0, \
        f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics differ from BENCHMARK.json: " \
        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
        f"units {[k for k in want if k in got and got[k] != want[k]]}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def check_checks() -> None:
    import pandas as pd

    import checks as C
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.datagen.pages import pages_pdf
    from pcornet_data_curation_spark.oracle.pandas_ref import reference_verdicts

    ref = reference_verdicts(C.in_lookback(pages_pdf(200, seed=3), PipelineConfig()))
    ref = ref[["url", "keep", "scrubbed_text"]]
    assert C.verdicts_match(ref.copy(), ref) == []
    flipped = ref.copy()
    flipped.loc[7, "keep"] = not flipped.loc[7, "keep"]
    assert C.verdicts_match(flipped, ref), "a flipped keep was not caught"
    edited = ref.copy()
    edited.loc[edited["scrubbed_text"].notna().idxmax(), "scrubbed_text"] += "x"
    assert C.verdicts_match(edited, ref), "a changed scrubbed_text was not caught"
    assert C.verdicts_match(ref.iloc[1:], ref), "a lost url was not caught"

    assert C.row_count("q", 5, {"q": 5}) == []
    assert C.row_count("q", 6, {"q": 5}), "a wrong row count was not caught"

    texts = pd.DataFrame({"t": ["a", "b", "a"]})
    assert C.distinct_text(texts, "t"), "a repeated survivor text was not caught"
    ids = pd.Series(["u1", "u2", "u3"])
    split = pd.DataFrame({"url": ids, "split": ["train", "val", "test"]})
    assert C.partitions_rows(split, ids, "split", ["train", "val", "test"]) == []
    assert C.partitions_rows(split.iloc[1:], ids, "split", ["train", "val", "test"])
    assert C.subset_of(pd.Series(["u1", "zz"]), ids, "near"), "a foreign survivor was not caught"


def main() -> int:
    sys.path.insert(0, HERE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_checks()
    print("checks reject corrupted results: ok", flush=True)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result = run(w["name"], trace)
            assert result["correct"] and result["failed"] == 0, f"{w['name']}: {result}"
            check_metrics(result, spec[key], f"{w['name']} trace={trace}")
            print(f"{w['name']} trace={trace}: ok ({result['attempted']} calls)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
