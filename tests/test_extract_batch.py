"""Extraction-dispatch pipeline tests (SURVEY.md Phase 4): semantics the
registered queries don't reach -- template override via a non-first
extractor, preferred-mode switching, and the Engine facade."""

from __future__ import annotations

from pyspark.sql import functions as F

import metadata_extractors_api_spark as mdx
from metadata_extractors_api_spark.engine import Engine
from metadata_extractors_api_spark.plans.extract_batch import extract_batch, resolve
from metadata_extractors_api_spark.sources import registry as reg


def test_dispatch_first_wins_and_orphan_null(spark):
    out = extract_batch(spark, reg.files_df(spark)).toPandas().set_index("file_id")
    assert out.loc[1, "extractor_id"] == "yadg"  # first of two registered
    assert out.loc[1, "n_candidates"] == 2  # reference warns here
    assert out.loc[5].isna()["extractor_id"]  # orphan -> NULL (ref raises)


def test_dispatch_python_mode_quotes(spark):
    out = extract_batch(spark, reg.files_df(spark)).toPandas().set_index("file_id")
    assert (
        out.loc[1, "rendered"]
        == "yadg.extractors.extract('biologic-mpr', '/data/gcpl.mpr')"
    )
    # csv-extract has no python usage -> falls back to cli (A7), raw values
    assert out.loc[4, "rendered"] == "csvx /data/table.csv /data/table.json"


def test_dispatch_cli_mode_preference(spark):
    out = (
        extract_batch(spark, reg.files_df(spark), preferred_mode="cli")
        .toPandas()
        .set_index("file_id")
    )
    assert out.loc[1, "method"] == "cli"
    assert out.loc[1, "rendered"] == "yadg extract /data/gcpl.mpr -o /data/gcpl.json"


def test_template_override_from_supported_filetypes(spark):
    # Reorder the registry so alt-extractor wins: its supported_filetypes
    # template {'input_type': 'mpr'} must override the filetype id (A6+A8).
    ft = reg.filetypes_df(spark).withColumn(
        "registered_extractors",
        F.when(
            F.col("id") == "biologic-mpr",
            F.array(F.lit("alt-extractor"), F.lit("yadg")),
        ).otherwise(F.col("registered_extractors")),
    )
    out = (
        resolve(spark, reg.files_df(spark), ft, reg.extractors_df(spark))
        .filter(F.col("file_id") == 1)
        .collect()[0]
    )
    assert out["extractor_id"] == "alt-extractor"
    assert out["rendered"] == "altx mpr /data/gcpl.mpr"  # 'mpr', not 'biologic-mpr'


def test_engine_facade(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    assert eng.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"] > 0
    assert eng.query("limit_topk").count() == 10
    assert eng.extract_batch(reg.files_df(spark)).count() == 6


def test_a16_dynamic_invocation_semantics():
    """Ports the reference's _execute_python contract
    (__init__.py:370-399): name-mismatch and unresolvable trees raise
    RuntimeError; a valid rendered call resolves through the attribute
    tree and invokes with parsed args/kwargs."""
    import pytest

    from metadata_extractors_api_spark.plans.extractors_fixture import (
        EXTRACTOR_MODULES,
        descend_function_tree,
        execute_python_call,
    )

    rows = execute_python_call(
        "yadg.extractors.extract('biologic-mpr', '/data/gcpl.mpr')", "yadg"
    )
    assert len(rows) == 15
    assert rows[0] == ("Ewe", 0, round(len("/data/gcpl.mpr") + 0 + 3 * 0.25 + 0.5, 2))

    # wrong input_type must change the values (args really flow through)
    other = execute_python_call(
        "yadg.extractors.extract('unknown', '/data/gcpl.mpr')", "yadg"
    )
    assert other[0][2] != rows[0][2]

    with pytest.raises(RuntimeError, match="mismatch"):
        descend_function_tree(EXTRACTOR_MODULES["yadg"], ["notyadg", "extract"])
    with pytest.raises(RuntimeError, match="Could not resolve"):
        execute_python_call("yadg.missing.fn('x')", "yadg")
    with pytest.raises(RuntimeError, match="Only simple"):
        execute_python_call("yadg.extractors.extract('x')", "import yadg")
    with pytest.raises(RuntimeError, match="No registered extractor"):
        execute_python_call("nope.extract('x')", "nope")


def test_extract_run_executes_both_methods(spark, sf_dir):
    out = mdx.QUERIES["extract_run"](spark, sf_dir).collect()
    methods = {(r["file_id"], r["method"]) for r in out}
    assert (1, "python") in methods and (4, "cli") in methods
    # cli rows came from a real subprocess of the rendered command
    cli_vals = [r for r in out if r["method"] == "cli" and r["file_id"] == 4]
    assert len(cli_vals) == 15


def test_template_override_applies_to_all_fields(spark):
    """A registry template override of input_path / output_path must
    render like the reference's apply_template_args (falsy fallback on
    every field), not just input_type."""
    ex = reg.extractors_df(spark).withColumn(
        "supported_filetypes",
        F.when(
            F.col("id") == "csv-extract",
            F.array(
                F.struct(
                    F.lit("example-csv").alias("id"),
                    F.create_map(
                        F.lit("input_path"), F.lit("/override/in.csv"),
                        F.lit("output_path"), F.lit(""),  # falsy -> default
                    ).alias("template"),
                )
            ),
        ).otherwise(F.col("supported_filetypes")),
    )
    out = (
        resolve(spark, reg.files_df(spark), reg.filetypes_df(spark), ex)
        .filter(F.col("file_id") == 4)
        .collect()[0]
    )
    assert out["rendered"] == "csvx /override/in.csv /data/table.json"
    assert out["output_path"] == "/data/table.json"


def _as_literal(v):
    """A collected value in the fixture literals' shape: structs as
    tuples, arrays as lists, maps as dicts."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return tuple(_as_literal(x) for x in v)
    if isinstance(v, list):
        return [_as_literal(x) for x in v]
    return v


def test_registry_frames_are_local_relations(spark):
    """Every registry fixture frame compiles into the plan as a
    LocalRelation of the declared schema and collects to exactly the
    fixture literals, nested maps and None values included."""
    from pyspark.sql.types import StructType

    frames = [
        (reg.filetypes_df, reg.FILETYPES, reg.FILETYPES_SCHEMA),
        (reg.extractors_df, reg.EXTRACTORS, reg.EXTRACTORS_SCHEMA),
        (reg.files_df, reg.FILES, reg.FILES_SCHEMA),
        (reg.filetypes_b_df, reg.FILETYPES_B, reg.FILETYPES_SCHEMA),
        (reg.extractors_b_df, reg.EXTRACTORS_B, reg.EXTRACTORS_SCHEMA),
    ]
    for build, rows, ddl in frames:
        df = build(spark)
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", build.__name__
        assert df.schema == StructType.fromDDL(ddl), build.__name__
        assert [_as_literal(r) for r in df.collect()] == rows, build.__name__


def test_cli_batch_runs_concurrently_in_order(spark, tmp_path):
    """A one-partition manifest of 20 cli files: the batch's commands
    run concurrently, yet every file yields its 15 rows, in manifest
    order, and the exact sums match the manifest-derived values."""
    import pandas as pd

    from metadata_extractors_api_spark.plans.extract_batch import (
        execute_dispatched,
    )
    from metadata_extractors_api_spark.plans.extractors_fixture import (
        EXTRACT_CHANNELS,
        EXTRACT_POINTS,
    )

    # example-csv files (routed to the cli extractor) of varied path
    # lengths in a non-sorted file_id order, plus orphans that drop out
    manifest = [
        ((i * 7) % 20 + 1, f"/data/{'d' * (i % 5)}/f{i}.csv", "example-csv", 1)
        for i in range(20)
    ] + [(1000 + i, f"/data/unknown{i}.bin", "orphan-type", 1) for i in range(2)]
    path = str(tmp_path / "manifest.parquet")
    pd.DataFrame(
        manifest, columns=["file_id", "path", "filetype_id", "size_bytes"]
    ).to_parquet(path)
    files = spark.read.parquet(path)
    assert files.rdd.getNumPartitions() == 1
    dispatched = Engine(spark).extract_batch(files)
    out = execute_dispatched(
        dispatched.select("file_id", "method", "setup", "rendered")
    ).collect()

    cli = [(fid, p) for fid, p, ft, _ in manifest if ft == "example-csv"]
    assert {r["method"] for r in out} == {"cli"}
    assert [r["file_id"] for r in out] == [fid for fid, _ in cli for _ in range(15)]
    assert all((4 * r["value"]).is_integer() for r in out)
    expect = {
        fid: sum(len(p) + pt + 0.25 * len(ch)
                 for ch in EXTRACT_CHANNELS for pt in range(EXTRACT_POINTS))
        for fid, p in cli
    }
    assert sum(r["value"] for r in out) == sum(expect.values())
    assert sum(r["file_id"] * r["value"] for r in out) == sum(
        fid * v for fid, v in expect.items()
    )


def test_cli_nonzero_exit_fails_the_task(spark):
    """A cli command that exits nonzero still raises, through the
    concurrent path, and fails the job."""
    import subprocess

    import pytest

    from metadata_extractors_api_spark.plans.extract_batch import (
        _cli_shim_source,
        execute_dispatched,
        run_commands,
    )

    with pytest.raises(subprocess.CalledProcessError):
        run_commands(["true", "exit 3", "true"], _cli_shim_source(),
                     "mdx_cli_shim_", check=True)
    codes = run_commands(["true", "exit 3"], _cli_shim_source(),
                         "mdx_cli_shim_", check=False)
    assert [r.returncode for r in codes] == [0, 3]

    bad = spark.createDataFrame(
        [(1, "cli", "", "csvx /data/a.csv /data/a.json"),
         (2, "cli", "", "exit 3")],
        "file_id long, method string, setup string, rendered string",
    ).coalesce(1)
    with pytest.raises(Exception, match="non-zero exit status 3"):
        execute_dispatched(bad).collect()


def test_cli_paths_leave_no_shim_dirs(spark, sf_dir):
    """extract_run and extract_test_sweep remove the shim temp dirs
    their tasks create. The sweep runs its cli pairs through the same
    runner without check, so alt-extractor's missing ``altx`` binary
    still lands in n_error."""
    import glob
    import os
    import tempfile

    def shim_dirs():
        root = tempfile.gettempdir()
        return {
            d for prefix in ("mdx_cli_shim_", "mdx_sweep_shim_")
            for d in glob.glob(os.path.join(root, prefix + "*"))
        }

    before = shim_dirs()
    mdx.QUERIES["extract_run"](spark, sf_dir).collect()
    sweep = {
        r["extractor_id"]: r
        for r in mdx.QUERIES["extract_test_sweep"](spark, sf_dir).collect()
    }
    assert shim_dirs() - before == set()
    alt = sweep["alt-extractor"]
    assert alt["n_pairs"] == alt["n_error"] == 3
    assert sweep["csv-extract"]["n_pass"] == sweep["csv-extract"]["n_pairs"] == 2
