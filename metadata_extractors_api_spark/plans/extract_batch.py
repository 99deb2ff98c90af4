"""The capability centerpiece (SURVEY.md Phase 4): the reference's
one-file-at-a-time extract() orchestration (A3-A9, __init__.py:45-148)
recomposed as ONE set-oriented DataFrame program:

    files ->(broadcast join)-> filetypes          [A3 registry lookup]
          -> first-extractor-wins + warn count    [A4 limit-1 selection]
          ->(broadcast join)-> extractors         [A5 registry lookup]
          -> supported-filetype match + template  [A6 semi-join filter]
          -> usage preference w/ last-row fallback[A7 parse_usage]
          -> default .json output path            [A9 with_suffix]
          -> command templating                   [A8 apply_template_args]
          -> dispatch to executor                 [A13/A15 -> UDF stage]

Registry tables are dimension-sized at any real scale -> both joins
broadcast; the only data-sized object in the plan is the files table.
The registry dimensions compile into the plan as local relations
(sources/registry.py builds them from typed Arrow tables), so the
broadcast side is read in the driver, not scanned by tasks.
Everything up to dispatch is pure column expressions (codegen'd,
zero Python), which is why the same pipeline holds at 100 TB of files.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.sources import registry as reg
from metadata_extractors_api_spark.store import memo, scratch_dir


def first_extractor(registered: Column) -> Column:
    """A4: first registered extractor wins; NULL when none registered
    (the reference raises -- the set-oriented form surfaces it as a NULL
    for the caller to filter/report)."""
    return F.try_element_at(registered, F.lit(1))


def pick_usage(usage: Column, preferred_mode: str) -> Column:
    """A7 parse_usage: first usage row matching the preferred mode, else
    the LAST row (the reference's loop-fallthrough fallback)."""
    match = F.try_element_at(F.filter(usage, lambda u: u.method == preferred_mode), F.lit(1))
    return F.coalesce(match, F.try_element_at(usage, F.lit(-1)))


def default_output_path(path: Column) -> Column:
    """A9: input path with its final extension replaced by .json."""
    return F.concat(F.regexp_replace(path, r"\.[^.]+$", ""), F.lit(".json"))


def render_command(command: Column, method: Column, values: dict[str, Column]) -> Column:
    """A8 command templating, python-mode repr quoting, NULL-skip."""
    from metadata_extractors_api_spark.functions.template import template_expr

    return template_expr(command, method, values)


def resolve(spark: SparkSession, files: DataFrame, filetypes: DataFrame,
            extractors: DataFrame, preferred_mode: str = "python") -> DataFrame:
    """Compose A3-A9 into the dispatch-ready DataFrame (no execution)."""
    ft = filetypes.select(
        F.col("id").alias("filetype_id"),
        "registered_extractors",
    )
    step1 = files.join(F.broadcast(ft), "filetype_id", "left")
    step2 = step1.select(
        "file_id",
        "path",
        "filetype_id",
        first_extractor(F.col("registered_extractors")).alias("extractor_id"),
        F.size("registered_extractors").alias("n_candidates"),
    )
    ex = extractors.select(
        F.col("id").alias("extractor_id"),
        "supported_filetypes",
        "usage",
    )
    step3 = step2.join(F.broadcast(ex), "extractor_id", "left")
    support = F.try_element_at(
        F.filter(
            "supported_filetypes", lambda s: s.id == F.col("filetype_id")
        ),
        F.lit(1),
    )
    usage = pick_usage(F.col("usage"), preferred_mode)
    step4 = step3.select(
        "file_id",
        "path",
        "filetype_id",
        "extractor_id",
        "n_candidates",
        support.getField("template").alias("template"),
        usage.getField("method").alias("method"),
        usage.getField("setup").alias("setup"),
        usage.getField("command").alias("command"),
    )
    # A8/apply_template_args applies the supported-filetype template
    # override (with falsy fallback) to ALL four fields, not just
    # input_type -- mirror that: override wins unless absent or ''.
    def _override(field: str, default: Column | None) -> Column:
        o = F.nullif(F.try_element_at(F.col("template"), F.lit(field)), F.lit(""))
        return F.coalesce(o, default) if default is not None else o

    out_path = _override("output_path", default_output_path(F.col("path")))
    eff_input_type = _override("input_type", F.col("filetype_id"))
    eff_input_path = _override("input_path", F.col("path"))
    eff_output_type = _override("output_type", None)  # no local default
    rendered = render_command(
        F.col("command"),
        F.col("method"),
        {
            "input_type": eff_input_type,
            "input_path": eff_input_path,
            "output_type": eff_output_type,
            "output_path": out_path,
        },
    )
    return step4.select(
        "file_id",
        "path",
        "filetype_id",
        "extractor_id",
        "n_candidates",
        "method",
        "setup",
        out_path.alias("output_path"),
        rendered.alias("rendered"),
    )


def extract_batch(
    spark: SparkSession,
    files: DataFrame,
    registry: tuple[DataFrame, DataFrame] | None = None,
    preferred_mode: str = "python",
) -> DataFrame:
    """Public engine API: resolve + dispatch. ``registry`` is
    (filetypes_df, extractors_df); defaults to the local fixtures."""
    if registry is None:
        registry = (reg.filetypes_df(spark), reg.extractors_df(spark))
    return resolve(spark, files, registry[0], registry[1], preferred_mode)


# --------------------------------------------------------------------------
# registered queries (sql-checked against the same fixture literals)
# --------------------------------------------------------------------------


@register(
    "extract_select_first",
    oracle=f"""
    WITH files AS (SELECT * FROM {reg.files_values_sql()}),
         filetypes AS (SELECT * FROM {reg.filetypes_values_sql()})
    SELECT f.file_id,
           f.filetype_id,
           ft.registered_extractors[1] AS extractor_id,
           CAST(len(ft.registered_extractors) AS INT) AS n_candidates
    FROM files f LEFT JOIN filetypes ft ON f.filetype_id = ft.id
    """,
)
def extract_select_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: registry lookup join + first-extractor-wins. The orphan
    filetype surfaces as NULL extractor_id (the reference's error path);
    n_candidates > 1 is the reference's warning condition."""
    f = reg.files_df(spark)
    ft = reg.filetypes_df(spark).select(
        F.col("id").alias("filetype_id"), "registered_extractors"
    )
    return f.join(F.broadcast(ft), "filetype_id", "left").select(
        "file_id",
        "filetype_id",
        first_extractor(F.col("registered_extractors")).alias("extractor_id"),
        F.size("registered_extractors").cast("int").alias("n_candidates"),
    )


@register(
    "extract_parse_usage",
    oracle=f"""
    WITH extractors AS (SELECT * FROM {reg.extractors_values_sql()}),
    picked AS (
      SELECT id AS extractor_id,
             coalesce(list_filter(usage, u -> u.method = 'python')[1], usage[-1]) AS u
      FROM extractors)
    SELECT extractor_id, u.method AS method, u.setup AS setup, u.command AS command
    FROM picked
    """,
)
def extract_parse_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 parse_usage with preferred_mode='python': csv-extract and
    alt-extractor have no python usage -> fall back to the LAST usage row
    (cli), reproducing the reference's loop-fallthrough exactly."""
    ex = reg.extractors_df(spark)
    u = pick_usage(F.col("usage"), "python")
    return ex.select(
        F.col("id").alias("extractor_id"),
        u.getField("method").alias("method"),
        u.getField("setup").alias("setup"),
        u.getField("command").alias("command"),
    )


def _dispatch_ctes(p: str, filetypes_sql: str, extractors_sql: str) -> str:
    """The A3-A9 dispatch chain as DuckDB CTEs named ``{p}s1..{p}s6``
    over a shared ``files`` CTE — prefix-parameterized so the diff
    oracle can render TWO registry snapshots in one statement without
    forking the dispatch text (the cms_oracle_sql discipline)."""
    return f"""{p}filetypes AS (SELECT * FROM {filetypes_sql}),
    {p}extractors AS (SELECT * FROM {extractors_sql}),
    {p}s1 AS (
      SELECT f.file_id, f.path, f.filetype_id,
             ft.registered_extractors[1] AS extractor_id,
             CAST(len(ft.registered_extractors) AS INT) AS n_candidates
      FROM files f JOIN {p}filetypes ft ON f.filetype_id = ft.id),
    {p}s2 AS (
      SELECT {p}s1.*, ex.supported_filetypes, ex.usage
      FROM {p}s1 JOIN {p}extractors ex ON ex.id = {p}s1.extractor_id),
    {p}s3 AS (
      SELECT file_id, path, filetype_id, extractor_id, n_candidates,
             list_filter(supported_filetypes, s -> s.id = filetype_id)[1].template AS template,
             coalesce(list_filter(usage, u -> u.method = 'python')[1], usage[-1]) AS u
      FROM {p}s2),
    {p}s4 AS (
      SELECT file_id, path, filetype_id, extractor_id, n_candidates,
             u.method AS method, u.setup AS setup, u.command AS command,
             coalesce(nullif(template['output_path'][1], ''),
                      regexp_replace(path, '\\.[^.]+$', '') || '.json')
                 AS output_path,
             coalesce(nullif(template['input_type'][1], ''), filetype_id) AS eff_type,
             coalesce(nullif(template['input_path'][1], ''), path) AS eff_path,
             nullif(template['output_type'][1], '') AS eff_otype
      FROM {p}s3),
    {p}s5 AS (
      SELECT *,
        replace(replace(replace(command,
          '{{{{ input_type }}}}',
          CASE WHEN method = 'python' THEN '''' || eff_type || '''' ELSE eff_type END),
          '{{{{ input_path }}}}',
          CASE WHEN method = 'python' THEN '''' || eff_path || '''' ELSE eff_path END),
          '{{{{ output_path }}}}',
          CASE WHEN method = 'python' THEN '''' || output_path || '''' ELSE output_path END)
          AS r3
      FROM {p}s4),
    {p}s6 AS (
      SELECT *,
        CASE WHEN eff_otype IS NULL THEN r3
             ELSE replace(r3, '{{{{ output_type }}}}',
               CASE WHEN method = 'python' THEN '''' || eff_otype || '''' ELSE eff_otype END)
        END AS rendered
      FROM {p}s5)"""


_DISPATCH_ORACLE = f"""
    WITH files AS (SELECT * FROM {reg.files_values_sql()}),
    {_dispatch_ctes("", reg.filetypes_values_sql(), reg.extractors_values_sql())}
    SELECT file_id, path, filetype_id, extractor_id, n_candidates,
           method, setup, output_path, rendered
    FROM s6
"""


@register("extract_dispatch", oracle=_DISPATCH_ORACLE)
def extract_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end A3-A9 composition on the fixture registry: every file
    resolved to (extractor, method, setup, rendered command, output
    path). The orphan file drops out at the extractor join, exactly as
    the reference raises before execution. The dispatch plan is a
    large expression tree (two broadcast joins + four template renders)
    whose construction dominates the query's local cost, so it is built
    once per session."""
    return memo(
        spark,
        "extract_dispatch",
        lambda: extract_batch(spark, reg.files_df(spark)).filter(
            F.col("extractor_id").isNotNull()
        ),
    )


def _roundtrip_snapshot(
    spark: SparkSession, ft_df: DataFrame, ex_df: DataFrame, tag: str
) -> tuple[DataFrame, DataFrame]:
    """Serialize one registry snapshot as JSON lines (the wire shape
    the reference serves over HTTP, __init__.py:104), re-read it as
    untyped text, and cast it into the declared StructTypes at the
    boundary (from_json — the scan_registry_json path)."""
    import os

    base = scratch_dir(f"regjson_{tag}_")
    ft_dir = os.path.join(base, "filetypes")
    ex_dir = os.path.join(base, "extractors")
    ft_df.coalesce(1).write.json(ft_dir)
    ex_df.coalesce(1).write.json(ex_dir)
    ft2 = (
        spark.read.text(ft_dir)
        .select(F.from_json("value", reg.FILETYPES_SCHEMA).alias("e"))
        .select("e.*")
    )
    ex2 = (
        spark.read.text(ex_dir)
        .select(F.from_json("value", reg.EXTRACTORS_SCHEMA).alias("e"))
        .select("e.*")
    )
    return ft2, ex2


@register("extract_dispatch_roundtrip", oracle=_DISPATCH_ORACLE)
def extract_dispatch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingestion-boundary loop closed end-to-end (VERDICT r6 'Next
    round' #7): the registry tables are WRITTEN out as raw JSON lines
    (the wire shape the reference serves over HTTP, __init__.py:104),
    re-read as untyped text, cast into the declared StructTypes at the
    boundary (from_json -- the scan_registry_json path, SURVEY §1.3
    "inferred at boundaries, cast into declared"), and the dispatch
    pipeline runs off the ROUND-TRIPPED frames. The oracle is
    extract_dispatch's verbatim: a lossy serialization (dropped struct
    field, map<->struct confusion, null/''-collapse) would hash-fail
    against the fixture-direct result. The JSON write + declared-schema
    re-read happens once per session (the frames are immutable)."""

    def build() -> DataFrame:
        ft2, ex2 = _roundtrip_snapshot(
            spark, reg.filetypes_df(spark), reg.extractors_df(spark), "a"
        )
        return extract_batch(spark, reg.files_df(spark), (ft2, ex2)).filter(
            F.col("extractor_id").isNotNull()
        )

    return memo(spark, "extract_dispatch_roundtrip", build)


_DISPATCH_DIFF_ORACLE = f"""
    WITH files AS (SELECT * FROM {reg.files_values_sql()}),
    {_dispatch_ctes("", reg.filetypes_values_sql(), reg.extractors_values_sql())},
    {_dispatch_ctes("b_", reg.filetypes_values_sql(reg.FILETYPES_B),
                    reg.extractors_values_sql(reg.EXTRACTORS_B))},
    da AS (SELECT file_id, path, extractor_id, rendered, output_path, method
           FROM s6 WHERE extractor_id IS NOT NULL),
    db AS (SELECT file_id, path, extractor_id, rendered, output_path, method
           FROM b_s6 WHERE extractor_id IS NOT NULL)
    SELECT coalesce(da.file_id, db.file_id) AS file_id,
           coalesce(da.path, db.path) AS path,
           CASE WHEN da.file_id IS NULL THEN 'added'
                WHEN db.file_id IS NULL THEN 'removed'
                WHEN da.extractor_id <> db.extractor_id
                     OR da.rendered <> db.rendered
                     OR da.output_path <> db.output_path
                     OR da.method <> db.method THEN 'changed'
                ELSE 'unchanged' END AS status,
           da.extractor_id AS extractor_a, db.extractor_id AS extractor_b,
           da.rendered AS rendered_a, db.rendered AS rendered_b
    FROM da FULL OUTER JOIN db ON db.file_id = da.file_id
"""


@register("extract_dispatch_diff", oracle=_DISPATCH_DIFF_ORACLE)
def extract_dispatch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry EVOLUTION -> dispatch diff (VERDICT r7 'Next round'
    #7): the reference's registry is alive — extractors register,
    deregister, and edit their templates between runs (it re-fetches
    /filetypes/{{id}} and /extractors/{{id}} per extract() call,
    __init__.py:96-123). This query ingests snapshot A (the fixture
    registry) AND mutated snapshot B (registry.py FILETYPES_B /
    EXTRACTORS_B: template changed, extractor removed, extractor
    added) through the SAME JSON-lines wire round-trip as
    extract_dispatch_roundtrip, runs the full dispatch off each, and
    classifies every file by what the registry update did to it:
    'added' (dispatches only under B), 'removed' (lost its extractor),
    'changed' (same file, different resolved extractor / rendered
    command / output path / method), 'unchanged'. The installation
    bump in B (yadg~=5.0 -> ~=5.1) deliberately does NOT surface —
    dispatch consumes usage+template, not installation.

    Scale shape: two dimension-sized registry ingests, two broadcast-
    join dispatch plans over the SAME files scan, one full outer join
    on file_id."""

    def build() -> DataFrame:
        ft_a, ex_a = _roundtrip_snapshot(
            spark, reg.filetypes_df(spark), reg.extractors_df(spark), "a"
        )
        ft_b, ex_b = _roundtrip_snapshot(
            spark, reg.filetypes_b_df(spark), reg.extractors_b_df(spark), "b"
        )
        cols = ["file_id", "path", "extractor_id", "rendered", "output_path",
                "method"]
        da = (
            extract_batch(spark, reg.files_df(spark), (ft_a, ex_a))
            .filter(F.col("extractor_id").isNotNull())
            .select(*cols)
        )
        db = (
            extract_batch(spark, reg.files_df(spark), (ft_b, ex_b))
            .filter(F.col("extractor_id").isNotNull())
            .select(*[F.col(c).alias(f"b_{c}") for c in cols])
        )
        j = da.join(db, da.file_id == db.b_file_id, "full_outer")
        status = (
            F.when(F.col("file_id").isNull(), F.lit("added"))
            .when(F.col("b_file_id").isNull(), F.lit("removed"))
            .when(
                (F.col("extractor_id") != F.col("b_extractor_id"))
                | (F.col("rendered") != F.col("b_rendered"))
                | (F.col("output_path") != F.col("b_output_path"))
                | (F.col("method") != F.col("b_method")),
                F.lit("changed"),
            )
            .otherwise(F.lit("unchanged"))
        )
        return j.select(
            F.coalesce(F.col("file_id"), F.col("b_file_id")).alias("file_id"),
            F.coalesce(F.col("path"), F.col("b_path")).alias("path"),
            status.alias("status"),
            F.col("extractor_id").alias("extractor_a"),
            F.col("b_extractor_id").alias("extractor_b"),
            F.col("rendered").alias("rendered_a"),
            F.col("b_rendered").alias("rendered_b"),
        )

    return memo(spark, "extract_dispatch_diff", build)


_RUN_SCHEMA = "file_id long, method string, channel string, point int, value double"


def _cli_shim_source() -> str:
    """Source of the ``csvx`` stand-in extractor binary the cli path
    executes (the fixture registry's cli command). Deterministic output
    from its argv so the subprocess round-trip is oracle-checkable."""
    from metadata_extractors_api_spark.plans.extractors_fixture import (
        EXTRACT_CHANNELS,
        EXTRACT_POINTS,
    )

    return (
        "#!/usr/bin/env python3\n"
        "import sys\n"
        f"CHANNELS = {list(EXTRACT_CHANNELS)!r}\n"
        f"POINTS = {EXTRACT_POINTS}\n"
        "inp = sys.argv[1]\n"
        "for ch in CHANNELS:\n"
        "    for pt in range(POINTS):\n"
        "        val = round(len(inp) + pt + len(ch) * 0.25, 2)\n"
        "        print(f'{ch},{pt},{val}')\n"
    )


def run_commands(
    commands: list[str], shim_source: str, prefix: str, check: bool
) -> list:
    """Run rendered cli command lines through ``sh -c``, concurrently,
    with the ``csvx`` shim first on PATH; returns the CompletedProcess
    of each command in input order. The shim lives in a temp dir that
    is created only when there are commands and removed on return.
    With ``check`` a nonzero exit raises CalledProcessError."""
    import os
    import shutil
    import subprocess
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    if not commands:
        return []
    shim_dir = tempfile.mkdtemp(prefix=prefix)
    try:
        shim = os.path.join(shim_dir, "csvx")
        with open(shim, "w") as fh:
            fh.write(shim_source)
        os.chmod(shim, 0o755)
        env = dict(os.environ)
        env["PATH"] = shim_dir + os.pathsep + env.get("PATH", "")

        def run(command: str):
            return subprocess.run(
                ["/bin/sh", "-c", command],
                capture_output=True,
                text=True,
                env=env,
                check=check,
            )

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            return list(pool.map(run, commands))
    finally:
        shutil.rmtree(shim_dir, ignore_errors=True)


def execute_dispatched(dispatched: DataFrame) -> DataFrame:
    """Execute a dispatch-ready relation (file_id, method, setup,
    rendered): python rows by in-process dynamic invocation, cli rows
    by subprocess — the shared A15/A16/EP2 execution stage used by the
    batch query (extract_run) and its streaming twin
    (stream_extract_run). A batch's per-file cli commands run
    concurrently (``run_commands``, one thread per usable CPU), and
    their output rows keep the batch's input order; a command that
    exits nonzero fails the task."""
    from metadata_extractors_api_spark.plans.extractors_fixture import (
        execute_python_call,
    )

    shim_source = _cli_shim_source()

    def run_python(batches):
        for pdf in batches:
            out = []
            for fid, setup, rendered in zip(
                pdf["file_id"], pdf["setup"], pdf["rendered"]
            ):
                for ch, pt, val in execute_python_call(rendered, setup):
                    out.append((fid, "python", ch, pt, val))
            yield pd.DataFrame(
                out, columns=["file_id", "method", "channel", "point", "value"]
            )

    def run_cli(batches):
        for pdf in batches:
            out = []
            results = run_commands(
                list(pdf["rendered"]), shim_source, "mdx_cli_shim_", check=True
            )
            for fid, res in zip(pdf["file_id"], results):
                for line in res.stdout.splitlines():
                    ch, pt, val = line.split(",")
                    out.append((fid, "cli", ch, int(pt), float(val)))
            yield pd.DataFrame(
                out, columns=["file_id", "method", "channel", "point", "value"]
            )

    py = dispatched.filter(F.col("method") == "python").mapInPandas(
        run_python, _RUN_SCHEMA
    )
    cli = dispatched.filter(F.col("method") == "cli").mapInPandas(
        run_cli, _RUN_SCHEMA
    )
    return py.unionByName(cli)


@register(
    "extract_run",
    oracle=f"""
    WITH files AS (SELECT * FROM {reg.files_values_sql()}),
         filetypes AS (SELECT * FROM {reg.filetypes_values_sql()}),
         extractors AS (SELECT * FROM {reg.extractors_values_sql()}),
    s1 AS (
      SELECT f.file_id, f.path,
             ft.registered_extractors[1] AS extractor_id
      FROM files f JOIN filetypes ft ON f.filetype_id = ft.id
      WHERE ft.registered_extractors[1] IS NOT NULL),
    s2 AS (
      SELECT s1.file_id, s1.path,
             coalesce(list_filter(ex.usage, u -> u.method = 'python')[1],
                      ex.usage[-1]) AS u
      FROM s1 JOIN extractors ex ON ex.id = s1.extractor_id),
    s3 AS (SELECT file_id, path, u.method AS method FROM s2),
    channels(channel) AS (VALUES ('Ewe'), ('I'), ('cycle')),
    points AS (SELECT unnest(range(0, 5)) AS point)
    SELECT s3.file_id, s3.method, c.channel, CAST(p.point AS INT) AS point,
           round(length(s3.path) + p.point + length(c.channel) * 0.25 +
                 CASE WHEN s3.method = 'python' THEN 0.5 ELSE 0 END, 2) AS value
    FROM s3 CROSS JOIN channels c CROSS JOIN points p
    """,
)
def extract_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/A16/EP2 execution: every dispatched file is EXECUTED, not
    simulated.

    python rows (A16, reference ``_execute_python`` __init__.py:370-399):
    the worker parses the RENDERED call string, resolves the registry's
    ``setup`` to a registered extractor object, descends the function
    tree and invokes the resolved callable — the extractor's output
    values depend on the call's arguments, so the oracle catches any
    mis-routing in the template -> parse -> resolve -> invoke chain.

    cli rows (EP2, reference ``_execute_cli`` __init__.py:296-306): the
    worker executes the RENDERED command line through a real
    ``sh -c`` subprocess (one per file — per-file commands are the
    reference's execution unit) against a deterministic stand-in
    ``csvx`` binary, and parses the typed rows off stdout."""
    dispatched = extract_dispatch(spark, sf_dir).select(
        "file_id", "method", "setup", "rendered"
    )
    return execute_dispatched(dispatched)


from metadata_extractors_api_spark.registry import ORACLE as _ORACLE_REG

# The validation oracle wraps extract_run's oracle verbatim: the
# validated relation IS the executed extraction output, in SQL as in
# Spark (a WITH inside a parenthesized subquery is legal ANSI).
ORACLE_RUN_SQL = _ORACLE_REG["extract_run"]


@register(
    "extract_validate_outputs",
    oracle=f"""
    WITH runs AS (SELECT * FROM ({ORACLE_RUN_SQL}) t)
    SELECT file_id, method,
           COUNT(*) AS n_points,
           CAST(SUM(CASE WHEN value IS NOT NULL AND value >= 0
                          AND point BETWEEN 0 AND 4
                          AND channel IN ('Ewe', 'I', 'cycle')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           COUNT(*) = CAST(SUM(CASE WHEN value IS NOT NULL AND value >= 0
                          AND point BETWEEN 0 AND 4
                          AND channel IN ('Ewe', 'I', 'cycle')
                         THEN 1 ELSE 0 END) AS BIGINT)
               AND COUNT(*) = 15 AS valid
    FROM runs
    GROUP BY file_id, method
    """,
)
def extract_validate_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output validation — the reference's explicitly-unimplemented
    plan item (README.md:88-91, 'validate extracted metadata against
    JSONSchema'), realized Spark-first: every extracted row from the
    REAL execution path (extract_run) is checked against the declared
    output contract (typed channel vocabulary, point range, non-null
    non-negative values) and rolled up per file with a per-file
    completeness check (channels x points = 15 rows -- a missing or
    duplicated point fails the file even when every present row is
    individually valid). Scale: validation is a column predicate over
    the extraction output stream plus one map-side-combinable rollup
    on the extraction's own (file, method) key -- no second pass over
    inputs, no driver-side checks."""
    runs = extract_run(spark, sf_dir)
    ok = (
        F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("point").between(0, 4)
        & F.col("channel").isin("Ewe", "I", "cycle")
    )
    n_valid = F.sum(ok.cast("int")).cast("bigint")
    n_points = F.count(F.lit(1))
    return runs.groupBy("file_id", "method").agg(
        n_points.alias("n_points"),
        n_valid.alias("n_valid"),
        ((n_points == n_valid) & (n_points == F.lit(15))).alias("valid"),
    )


from metadata_extractors_api_spark.plans import detect_filetype as _detect


@register(
    "extract_dead_letter",
    oracle=f"""
    WITH files AS (SELECT * FROM {reg.files_values_sql()}),
         filetypes AS (SELECT * FROM {reg.filetypes_values_sql()}),
    orphans AS (
      SELECT f.file_id, f.path, 'no_extractor' AS reason
      FROM files f
      LEFT JOIN filetypes ft ON f.filetype_id = ft.id
      WHERE ft.id IS NULL OR ft.registered_extractors[1] IS NULL),
    runs AS (SELECT * FROM ({ORACLE_RUN_SQL}) t),
    invalid AS (
      SELECT r.file_id, CAST(NULL AS VARCHAR) AS path,
             'invalid_output' AS reason
      FROM runs r
      GROUP BY r.file_id
      HAVING COUNT(*) <> 15
          OR SUM(CASE WHEN r.value IS NOT NULL AND r.value >= 0
                       AND r.point BETWEEN 0 AND 4
                       AND r.channel IN ('Ewe', 'I', 'cycle')
                      THEN 1 ELSE 0 END) <> COUNT(*)),
    detected AS (SELECT * FROM ({_detect.DETECT_ORACLE}) t),
    undetectable AS (
      SELECT CAST(NULL AS BIGINT) AS file_id, fname AS path,
             'undetectable_type' AS reason
      FROM detected WHERE detected_type IS NULL)
    SELECT file_id, path, reason FROM orphans
    UNION ALL
    SELECT file_id, path, reason FROM invalid
    UNION ALL
    SELECT file_id, path, reason FROM undetectable
    ORDER BY reason, file_id
    """,
)
def extract_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline's DEAD-LETTER relation: every input that
    cannot flow through -- files whose filetype has no registered
    extractor (the case the reference raises an exception on,
    __init__.py:241-258; set-oriented engines QUARANTINE instead of
    aborting the batch), files whose executed output fails the
    validation contract, and unlabeled files the detection rules
    (plans/detect_filetype.py, reference README.md:94) cannot type --
    each with a machine-readable reason. The triage queue an operator
    drains after every 100 TB run; the happy path never pays for it
    because every arm reuses the pipeline's existing relations
    (dispatch complement + validation rollup + detection census)."""
    files = reg.files_df(spark)
    dispatched = extract_batch(spark, files)
    orphans = (
        dispatched.filter(F.col("extractor_id").isNull())
        .select("file_id", "path", F.lit("no_extractor").alias("reason"))
    )
    runs = extract_run(spark, sf_dir)
    ok = (
        F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("point").between(0, 4)
        & F.col("channel").isin("Ewe", "I", "cycle")
    )
    invalid = (
        runs.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(ok.cast("int")).alias("n_valid"),
        )
        .filter(
            (F.col("n_points") != 15) | (F.col("n_valid") != F.col("n_points"))
        )
        .select(
            "file_id",
            F.lit(None).cast("string").alias("path"),
            F.lit("invalid_output").alias("reason"),
        )
    )
    undetectable = (
        _detect.detect_types(spark)
        .filter(F.col("detected_type").isNull())
        .select(
            F.lit(None).cast("bigint").alias("file_id"),
            F.col("fname").alias("path"),
            F.lit("undetectable_type").alias("reason"),
        )
    )
    return (
        orphans.unionByName(invalid)
        .unionByName(undetectable)
        .orderBy("reason", "file_id")
    )


@register(
    "extract_test_sweep",
    oracle=f"""
    WITH files AS (SELECT * FROM {reg.files_values_sql()}),
         extractors AS (SELECT * FROM {reg.extractors_values_sql()}),
    sup AS (
      SELECT id AS extractor_id,
             unnest(supported_filetypes) AS sf,
             usage
      FROM extractors),
    pairs AS (
      SELECT s.extractor_id, f.file_id,
             coalesce(list_filter(s.usage, u -> u.method = 'python')[1],
                      s.usage[-1]) AS u
      FROM sup s JOIN files f ON f.filetype_id = s.sf.id),
    classed AS (
      SELECT extractor_id,
             CASE WHEN u.method = 'python'
                    OR starts_with(u.command, 'csvx') THEN 'pass'
                  ELSE 'error' END AS status
      FROM pairs)
    SELECT extractor_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN status = 'pass' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN status = 'fail' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail,
           CAST(SUM(CASE WHEN status = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error
    FROM classed
    GROUP BY extractor_id
    """,
)
def extract_test_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry testing mode — the reference's second unimplemented
    plan item (README.md:92-93: "a testing mode, where an extractor
    can be run against all example files in the registry for that file
    type"), generalizing its live E2E test (tests/test_mpr.py:38-52)
    to EVERY (extractor, example-file) pair.

    Unlike dispatch (A4 first-wins), the sweep runs EVERY registered
    extractor against EVERY registry file of each filetype it claims
    to support: explode supported_filetypes, join the example-file
    relation on the claimed type (both registry dims -> broadcast),
    render each pair's command through the SAME A7/A8 path dispatch
    uses, then EXECUTE each pair (python in-process invocation / cli
    subprocess, identical to extract_run) and classify: ``pass`` =
    ran and produced the full valid output contract (channels x
    points, typed, non-negative), ``fail`` = ran but output invalid,
    ``error`` = invocation failed (missing binary, unresolvable
    module, nonzero exit). The per-extractor rollup is the registry
    health report the reference README wants; alt-extractor's missing
    ``altx`` binary lands in n_error by construction, proving the
    error channel is exercised, not just declared. The oracle
    re-derives the expected classification relationally from the
    registry VALUES plus the executor-availability model (python
    in-process + the csvx shim), so any rendering, routing, or
    execution bug diverges."""
    ex = reg.extractors_df(spark)
    sup = ex.select(
        F.col("id").alias("extractor_id"),
        F.explode("supported_filetypes").alias("sf"),
        "usage",
    ).select(
        "extractor_id",
        F.col("sf.id").alias("filetype_id"),
        F.col("sf.template").alias("template"),
        "usage",
    )
    files = reg.files_df(spark)
    u = pick_usage(F.col("usage"), "python")
    paired = files.join(F.broadcast(sup), "filetype_id").select(
        "extractor_id",
        "file_id",
        "path",
        "filetype_id",
        "template",
        u.getField("method").alias("method"),
        u.getField("setup").alias("setup"),
        u.getField("command").alias("command"),
    )

    def _override(field: str, default):
        o = F.nullif(
            F.try_element_at(F.col("template"), F.lit(field)), F.lit("")
        )
        return F.coalesce(o, default) if default is not None else o

    rendered = render_command(
        F.col("command"),
        F.col("method"),
        {
            "input_type": _override("input_type", F.col("filetype_id")),
            "input_path": _override("input_path", F.col("path")),
            "output_type": _override("output_type", None),
            "output_path": _override(
                "output_path", default_output_path(F.col("path"))
            ),
        },
    )
    todo = paired.select(
        "extractor_id", "file_id", "method", "setup", rendered.alias("rendered")
    )
    # Imported in the driver: the closure ships it to the workers by
    # value, so they need not import the package.
    from metadata_extractors_api_spark.plans.extractors_fixture import (
        execute_python_call,
    )

    shim_source = _cli_shim_source()

    def _valid(rows) -> bool:
        if len(rows) != 15:
            return False
        return all(
            ch in ("Ewe", "I", "cycle")
            and 0 <= int(pt) <= 4
            and val is not None
            and float(val) >= 0
            for ch, pt, val in rows
        )

    def run_sweep(batches):
        for pdf in batches:
            out = []
            is_cli = pdf["method"] != "python"
            cli_results = iter(run_commands(
                list(pdf["rendered"][is_cli]), shim_source, "mdx_sweep_shim_",
                check=False,
            ))
            for eid, method, setup, rendered in zip(
                pdf["extractor_id"], pdf["method"], pdf["setup"], pdf["rendered"]
            ):
                if method == "python":
                    try:
                        rows = execute_python_call(rendered, setup)
                        status = "pass" if _valid(rows) else "fail"
                    except Exception:
                        status = "error"
                else:
                    res = next(cli_results)
                    if res.returncode != 0:
                        status = "error"
                    else:
                        try:
                            rows = [
                                tuple(line.split(","))
                                for line in res.stdout.splitlines()
                            ]
                            status = "pass" if _valid(rows) else "fail"
                        except Exception:
                            status = "fail"
                out.append((eid, status))
            yield pd.DataFrame(out, columns=["extractor_id", "status"])

    executed = todo.mapInPandas(run_sweep, "extractor_id string, status string")
    s = F.col("status")
    return executed.groupBy("extractor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((s == "pass").cast("int")).cast("bigint").alias("n_pass"),
        F.sum((s == "fail").cast("int")).cast("bigint").alias("n_fail"),
        F.sum((s == "error").cast("int")).cast("bigint").alias("n_error"),
    )


@register("stream_extract_run", oracle=ORACLE_RUN_SQL)
def stream_extract_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the Phase-4 centerpiece: the reference
    README's "parallel/continuous processing of many files"
    (README.md:95-96) applied to its OWN core flow — files ARRIVE (a
    file-source stream over the staged files table, one file per
    trigger) and each micro-batch runs the full resolve -> render ->
    EXECUTE pipeline (shared ``extract_batch`` + ``execute_dispatched``
    stages — zero logic duplicated against the batch path), appending
    typed extraction rows to the result table. After the availableNow
    drain the accumulated output must equal batch ``extract_run``
    exactly; the oracle IS that query's oracle, verbatim. State is
    nothing but the file-source ledger: each batch's work is
    independent, which is what makes this the shape that ingests
    forever on a cluster."""

    def build() -> str:
        files = reg.files_df(spark)
        stage_dir = scratch_dir("stream_files_")
        # stage the ingest queue deterministically: one file per
        # micro-batch, split by file_id
        for i in range(3):
            files.filter(F.col("file_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(stage_dir)
        out_dir = scratch_dir("stream_run_out_")

        def process(batch_df: DataFrame, _batch_id: int) -> None:
            dispatched = extract_batch(spark, batch_df).filter(
                F.col("extractor_id").isNotNull()
            ).select("file_id", "method", "setup", "rendered")
            execute_dispatched(dispatched).write.mode("append").parquet(
                out_dir
            )

        stream = (
            spark.readStream.schema(files.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            q = (
                stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", scratch_dir("ckpt_"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return out_dir

    out_dir = memo(spark, ("stream_extract_run", sf_dir), build)
    return spark.read.schema(_RUN_SCHEMA).parquet(out_dir)


@register(
    "extract_install_plan",
    oracle=f"""
    WITH extractors AS (SELECT * FROM {reg.extractors_values_sql()}),
    ix AS (
      SELECT id, generate_subscripts(installation, 1) AS idx,
             unnest(installation) AS spec
      FROM extractors),
    firsts AS (
      SELECT id,
             MIN(CASE WHEN spec.method = 'pip' THEN idx END) AS first_pip,
             MIN(CASE WHEN spec.method <> 'pip' THEN idx END)
                 AS first_nonpip,
             COUNT(*) AS n_specs
      FROM ix GROUP BY id),
    pl AS (
      SELECT e.id, COALESCE(f.n_specs, 0) AS n_specs,
             CASE WHEN COALESCE(f.n_specs, 0) = 0
                       THEN 'error_no_instructions'
                  WHEN f.first_nonpip IS NOT NULL
                       AND (f.first_pip IS NULL
                            OR f.first_nonpip < f.first_pip)
                       THEN 'error_method_unsupported'
                  ELSE 'ok_pip' END AS status,
             CASE WHEN COALESCE(f.n_specs, 0) = 0 THEN NULL
                  WHEN f.first_nonpip IS NOT NULL
                       AND (f.first_pip IS NULL
                            OR f.first_nonpip < f.first_pip)
                       THEN f.first_nonpip
                  ELSE f.first_pip END AS cidx
      FROM extractors e LEFT JOIN firsts f ON f.id = e.id)
    SELECT p.id AS extractor_id, p.status,
           CAST(p.n_specs AS BIGINT) AS n_specs,
           e.installation[p.cidx].method AS chosen_method,
           CAST(p.cidx AS BIGINT) AS chosen_idx,
           array_to_string(e.installation[p.cidx].packages, ',')
               AS packages,
           e.installation[p.cidx].requires_python AS requires_python
    FROM pl p JOIN extractors e ON e.id = p.id
    """,
)
def extract_install_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/A12's install-spec walk as a DATA-PATH operator (the last
    reference behavior that lived only in prose — __init__.py:177-216):
    the reference's install() iterates the installation list IN ORDER,
    pip specs are tried with first-success-wins, and any NON-pip spec
    encountered first RAISES ('Installation method ... not yet
    supported') — conda is rejected, not skipped, so a conda-first
    entry aborts even when a pip spec follows. This query classifies
    every extractor's install plan exactly that way: 'ok_pip' with the
    first pip spec's index/packages/requires_python, or
    'error_method_unsupported' pointing at the offending spec, or
    'error_no_instructions' for an empty list (the RuntimeError at
    __init__.py:188-191; unexercised by the fixture, branch kept for
    parity). The fixture's alt-extractor carries a conda-first spec
    precisely to pin the reject-over-skip semantics.

    Scale shape: pure column expressions over the dimension-sized
    extractors relation — indexed-lambda transforms + array_min find
    the first pip / first non-pip positions, element_at projects the
    chosen spec; zero joins, zero shuffles."""
    ex = reg.extractors_df(spark)
    methods = F.expr("transform(installation, x -> x.method)")
    first_pip = F.coalesce(
        F.array_position(methods, F.lit("pip")), F.lit(0)
    ).cast("int")
    first_nonpip = F.coalesce(
        F.array_min(
            F.expr(
                "filter(transform(installation,"
                " (x, i) -> CASE WHEN x.method <> 'pip' THEN i + 1 END),"
                " v -> v IS NOT NULL)"
            )
        ),
        F.lit(0),
    ).cast("int")
    n_specs = F.size("installation")
    status = (
        F.when(n_specs == 0, F.lit("error_no_instructions"))
        .when(
            (first_nonpip > 0)
            & ((first_pip == 0) | (first_nonpip < first_pip)),
            F.lit("error_method_unsupported"),
        )
        .otherwise(F.lit("ok_pip"))
    )
    cidx = (
        F.when(n_specs == 0, F.lit(None).cast("int"))
        .when(
            (first_nonpip > 0)
            & ((first_pip == 0) | (first_nonpip < first_pip)),
            first_nonpip,
        )
        .otherwise(first_pip)
    )
    chosen = F.element_at("installation", cidx)
    return ex.select(
        F.col("id").alias("extractor_id"),
        status.alias("status"),
        n_specs.cast("bigint").alias("n_specs"),
        chosen.getField("method").alias("chosen_method"),
        cidx.cast("bigint").alias("chosen_idx"),
        F.array_join(chosen.getField("packages"), ",").alias("packages"),
        chosen.getField("requires_python").alias("requires_python"),
    )
