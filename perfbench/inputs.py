"""Seeded inputs and their expected outputs.

Everything the program under test receives is generated here from the
workload seed: parquet manifests of files to extract (extract_bulk,
extract_cli) and an sf0.1-shaped copy of the fixture tables the
``queries`` workload reads. Expected outputs are computed here too,
independently of the program: from the manifest for the extract
workloads, and from each query's DuckDB oracle SQL for ``queries``.

Runs in the parent process (run.py), before the set-up clock starts.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Per workload: warm-up passes (fixed, so every run measures the same
#: point of the JVM's and Python workers' warm-up curve) and the least
#: number of timed passes. A queries pass takes about 10 s; two make its
#: median steadier than one.
PASSES = {"extract_bulk": (2, 1), "extract_cli": (2, 1), "queries": (2, 2)}

# ---------------------------------------------------------------- extract

#: The extractor fixture's output shape (plans/extractors_fixture.py and
#: the csvx shim): 3 channels x 5 points per dispatched file, value =
#: len(path) + point + 0.25 * len(channel) (+ 0.5 on the python path).
CHANNELS = ("Ewe", "I", "cycle")
POINTS = 5
ROWS_PER_FILE = len(CHANNELS) * POINTS
#: Sum over one file's rows of point + 0.25 * len(channel).
_FILE_CONST = len(CHANNELS) * sum(range(POINTS)) + POINTS * 0.25 * sum(map(len, CHANNELS))

EXTRACT = {
    # filetype routed by the registry fixture: biologic-mpr -> yadg
    # (python, in-process), example-csv -> csv-extract (cli, sh -c).
    "extract_bulk": {
        "filetype": "biologic-mpr", "ext": "mpr", "method": "python",
        "files": 50_000, "orphans": 5_000, "parts": 8, "requests_per_pass": 2,
    },
    "extract_cli": {
        "filetype": "example-csv", "ext": "csv", "method": "cli",
        "files": 20, "orphans": 2, "parts": 1, "requests_per_pass": 2,
    },
}

_WORDS = np.array(
    "cell run cycle batch probe sample anode cathode ocv gcpl peis eis".split()
)


def _paths(rng: np.random.Generator, n: int, ext: str) -> list[str]:
    """Shell-safe paths of varied length (the extracted values depend
    on len(path), so a misrouted path shows in the checksums)."""
    a = rng.choice(_WORDS, n)
    b = rng.integers(0, 1000, n)
    c = rng.choice(_WORDS, n)
    d = rng.integers(0, 10 ** rng.integers(1, 7, n))
    return [f"/data/{x}{y}/{z}_{w}.{ext}" for x, y, z, w in zip(a, b, c, d)]


def extract_manifest(path: str, spec: dict, seed: int, request: int) -> dict:
    """Write one request's manifest (file_id, path, filetype_id,
    size_bytes) as a parquet directory of ``spec['parts']`` files and
    return the request's expected output summary."""
    rng = np.random.default_rng([seed, request])
    n = spec["files"]
    base = request * 10 * n
    file_id = base + np.arange(n, dtype=np.int64)
    orphan = np.zeros(n, dtype=bool)
    orphan[rng.choice(n, spec["orphans"], replace=False)] = True
    paths = _paths(rng, n, spec["ext"])
    paths = [p[: -len(spec["ext"])] + "bin" if o else p for p, o in zip(paths, orphan)]
    ftype = np.where(orphan, "orphan-type", spec["filetype"])
    size = rng.integers(1, 1 << 24, n, dtype=np.int64)
    table = pa.table(
        {"file_id": file_id, "path": paths, "filetype_id": ftype, "size_bytes": size}
    )
    os.makedirs(path)
    step = math.ceil(n / spec["parts"])
    for i in range(spec["parts"]):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))

    bonus = 0.5 if spec["method"] == "python" else 0.0
    keep = ~orphan
    lens = np.array([len(p) for p in paths], dtype=np.float64)[keep]
    per_file = ROWS_PER_FILE * (lens + bonus) + _FILE_CONST
    ids = file_id[keep]
    return {
        "files": int(keep.sum()),
        "rows": int(ROWS_PER_FILE * keep.sum()),
        "method_rows": int(ROWS_PER_FILE * keep.sum()),  # every row on spec["method"]
        "sum_value": float(per_file.sum()),
        "sum_id": int(ROWS_PER_FILE * ids.sum()),
        "sum_id_value": float((ids * per_file).sum()),
    }


def extract_inputs(workload: str, seed: int, root: str) -> dict:
    """All manifests for one run: one pass is ``requests_per_pass``
    distinct requests; warm-up and timed passes cycle over them."""
    spec = EXTRACT[workload]
    requests = []
    for r in range(spec["requests_per_pass"]):
        path = os.path.join(root, f"manifest-{r}")
        requests.append({"path": path, "expect": extract_manifest(path, spec, seed, r)})
    return {"spec": spec, "requests": requests}


# ---------------------------------------------------------------- queries

#: One registered query per operator family (module in the comment).
QUERIES = [
    "tpch_q3_shipping",            # operators/workload
    "join_multiway",               # operators/relational
    "pipeline_e2e_curation",       # operators/pipeline
    "dedup_jaccard_prefix",        # operators/llm (memo-backed)
    "tokenizer_wordpiece_encode",  # operators/corpus (Python UDF)
    "graph_hits",                  # operators/corpus (iterative localCheckpoint)
    "stream_markov_transition",    # streaming/windows
]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _day(y: int, m: int, d: int) -> np.datetime64:
    return np.datetime64(dt.date(y, m, d), "D")


def _ts(days: np.ndarray, start: np.datetime64) -> pa.Array:
    return pa.array((start + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    """sf0.1-shaped tables with the fixture's schema and row counts
    (TESTDATA.md): 15k customers, 150k orders, 600k lineitems, 5k
    documents (about 5% near-duplicates), 100k events over 30 days."""
    rng = np.random.default_rng([seed, 0xF1])
    n_cust, n_ord, n_li, n_doc, n_ev = 15_000, 150_000, 600_000, 5_000, 100_000
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), _day(1995, 1, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, 20_000, n_li),
        "l_suppkey": rng.integers(0, 1_000, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(0, 2499, n_li), _day(1995, 1, 2)),
    })
    texts = [
        " ".join(rng.choice(DOC_WORDS, k)) for k in rng.integers(10, 101, n_doc)
    ]
    # Near-duplicates: copy an earlier document and append " dup".
    for i in np.sort(rng.choice(np.arange(1, n_doc), 250, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1_500, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def canon(pdf) -> list[list[str]]:
    """Order-insensitive canonical form of a query result: its column
    names, then its rows as the repository's oracle comparison
    (tools/compare.py) canonicalizes them."""
    from tools.compare import canon_rows

    return [sorted(pdf.columns)] + [list(row) for row in canon_rows(pdf)]


def query_inputs(seed: int, root: str, oracle: dict[str, str]) -> dict:
    """Write the fixture tables and compute each query's expected rows
    with its DuckDB oracle SQL."""
    import duckdb

    sf_dir = os.path.join(root, "sf")
    os.makedirs(sf_dir)
    con = duckdb.connect()
    try:
        for name, table in fixture_tables(seed).items():
            path = os.path.join(sf_dir, f"{name}.parquet")
            pq.write_table(table, path)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        expect = {q: canon(con.execute(oracle[q]).df()) for q in QUERIES}
    finally:
        con.close()
    return {"sf_dir": sf_dir, "expect": expect}


def write_inputs(workload: str, seed: int, root: str, oracle: dict[str, str]) -> str:
    """Generate a run's inputs under ``root``; return the path of the
    JSON file that describes them."""
    if workload == "queries":
        spec = query_inputs(seed, root, oracle)
    else:
        spec = extract_inputs(workload, seed, root)
    path = os.path.join(root, "inputs.json")
    with open(path, "w") as fh:
        json.dump(spec, fh)
    return path
