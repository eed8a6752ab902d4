"""Guards on the driver contract (__spark_entry__): every registered
query must run at sf0.001 and return a stable, non-degenerate schema;
every oracle key must reference a registered query."""

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    # the intentionally rows-only ops: minhash/simhash banding,
    # survivors, and ivf gained value-hash oracles (literal-fixture /
    # deterministic-centroid tricks); the engine-specific residues are
    # the xxhash64 fingerprint (md5 twin oracled), the lookaround
    # scrub chain (core chain oracled), and the zlib compression ratio
    # (bit-identical python-zlib pytest twin)
    rows_only = set(qs) - set(oracles)
    assert rows_only == {"fingerprint", "scrub_full", "compression_ratio"}


def test_benchmark_package_imports_resolve():
    """The benchmark under curbench/ is frozen while the package is
    refactored: every name it imports from the package must still
    exist. Walks the import statements (module level and in-body)
    without running any workload."""
    import ast
    import glob
    import importlib
    import os

    pkg = "pcornet_data_curation_spark"
    root = os.path.join(os.path.dirname(__file__), "..", "curbench")
    files = sorted(glob.glob(os.path.join(root, "*.py")))
    assert files
    missing, seen = [], 0
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(pkg):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    seen += 1
                    if not hasattr(mod, alias.name):
                        try:
                            importlib.import_module(f"{node.module}.{alias.name}")
                        except ImportError:
                            missing.append(f"{os.path.basename(path)}: {node.module}.{alias.name}")
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(pkg):
                        seen += 1
                        importlib.import_module(alias.name)
    assert seen > 0
    assert not missing, missing


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_runs_at_smoke_scale(spark, name):
    df = E.queries()[name](spark, SF_SMOKE)
    assert len(df.schema.fields) > 0
    assert df.count() >= 0  # full evaluation, not just planning


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert "keep" in df.columns


def test_window_rotation_ledger_and_pins():
    """Mechanical enforcement of the 50-entry observation-window
    discipline: every registry entry either sits inside the driver's
    head window, or (a) has a recorded green driver round in
    LAST_DRIVER_GREEN and (b) its source fingerprint — builder +
    oracle + referenced package functions/modules — matches the pin
    taken when it was rotated out. An edit behind a past-window entry
    breaks the pin; the fix is to rotate the entry into the head-50
    and run `python tools/pin_registry.py --update`."""
    import json
    import os
    import sys

    from pcornet_data_curation_spark import queries as Q

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import pin_registry

    names = list(Q.REGISTRY)
    head = set(names[: Q.DRIVER_WINDOW])
    past = names[Q.DRIVER_WINDOW:]

    # never-green entries must be inside the window
    for n in names:
        if n not in Q.LAST_DRIVER_GREEN:
            assert n in head, (
                f"{n} has no recorded green driver round and sits past the "
                f"{Q.DRIVER_WINDOW}-entry window — rotate it into the head"
            )
    # past-window entries: recorded round + unchanged fingerprint
    with open(os.path.join(os.path.dirname(__file__), "registry_pins.json")) as f:
        pins = json.load(f)
    for n in past:
        assert Q.LAST_DRIVER_GREEN.get(n, 0) > 0, f"{n} past window, never green"
        assert n in pins, f"{n} past window but unpinned — run pin_registry --update"
        got = pin_registry.entry_fingerprint(n)
        assert got == pins[n], (
            f"{n}: implementing source changed since its green round "
            f"(pin {pins[n]} != {got}) — rotate into the head-50 window"
        )
    # ledger hygiene: no stale names
    assert set(Q.LAST_DRIVER_GREEN) <= set(names)


def test_quality_sql_oracles_cannot_drift():
    """SQL_CCNET_QUALITY_BUCKETS re-derives the quality score that
    SQL_QUALITY_SCORE also computes (the pinned string cannot be
    refactored without breaking past-window pins) — assert the two
    DuckDB derivations produce identical quality values on adversarial
    fixture docs, so editing one formula without the other fails here
    instead of silently drifting."""
    import duckdb

    from pcornet_data_curation_spark import queries as Q

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'The quick brown fox. And the lazy dog of it all!', 'a'), "
        "(2, 'no stopwords here', 'b'), (3, '', 'a'), (4, NULL, NULL), "
        "(5, 'Many! Punct? Marks. And the of and the of words the.', 'b')"
        ") t(doc_id, text, source)"
    )
    qs = dict(
        con.sql(
            f"SELECT doc_id, quality FROM ({Q.SQL_QUALITY_SCORE})"
        ).fetchall()
    )
    cb = dict(
        con.sql(
            f"SELECT doc_id, quality FROM ({Q.SQL_CCNET_QUALITY_BUCKETS})"
        ).fetchall()
    )
    assert qs == cb


def test_langmix_vote_pinned_to_langid_heuristic(spark):
    """langmix._vote re-implements langid_heuristic's argmax (the
    module constant cannot gain a shared helper without breaking
    past-window pins) — pin the two chains to each other, and the
    queries._TA_MARKERS SQL copy to the module constant, so an edit to
    either marker set or tie-break order fails loudly here."""
    from pyspark.sql import functions as F

    from pcornet_data_curation_spark import queries as Q
    from pcornet_data_curation_spark.operators.langmix import _vote
    from pcornet_data_curation_spark.operators.textanalysis import (
        _MARKERS,
        langid_heuristic,
    )

    assert Q._TA_MARKERS == _MARKERS

    rows = [
        (1, "the cat and the dog of the house"),
        (2, "der hund und die katze der stadt"),
        (3, "le chat et les chiens les plus beaux"),
        (4, "el gato y los perros que viven"),
        (5, "the und le el"),          # 4-way tie -> first-wins order
        (6, "zz qq xx"),               # no markers -> und
        (7, ""),
        (8, "the the und und"),        # en/de tie
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = (
        langid_heuristic(df).toPandas().set_index("doc_id")["lang_guess"]
    )
    b = (
        df.select("doc_id", _vote(F.coalesce(F.col("text"), F.lit(""))).alias("v"))
        .toPandas().set_index("doc_id")["v"]
    )
    assert list(a.sort_index()) == list(b.sort_index())
