"""One benchmark run inside its own environment (started by run.py).

Sets up (package import, ``get_spark``, registry frames, warm-up), then
drives the workload as one closed-loop client: each request is sent
after the previous one returned. Every request's output is checked
after its pass, outside the timed region. Writes a result JSON for
run.py.

    python3 perfbench/worker.py CONFIG.json
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, if
    that is p90 or above. With fewer than 100 samples none is; then the
    maximum is reported, as percentile 100."""
    xs = sorted(latencies)
    n = len(xs)
    pct, value = (100.0 * (n - 10) / n, xs[n - 11]) if n >= 100 else (100.0, xs[-1])
    return {"value": value, "unit": "s", "percentile": pct, "samples": n}


class ExtractRunner:
    """extract_bulk / extract_cli. A request reads one manifest,
    resolves it with ``Engine.extract_batch``, runs it with
    ``execute_dispatched`` and returns checksums of the extracted rows."""

    def __init__(self, spark, spec: dict, tracer, jobs) -> None:
        from metadata_extractors_api_spark import Engine
        from metadata_extractors_api_spark.plans.extract_batch import execute_dispatched
        from metadata_extractors_api_spark.sources import registry as reg

        self.spark, self.tracer, self.jobs = spark, tracer, jobs
        self.engine = Engine(spark)
        self.execute_dispatched = execute_dispatched
        self.requests = spec["requests"]
        self.method = spec["spec"]["method"]
        self.per_pass = len(self.requests)
        # Registry frames are built once per session; requests reuse them.
        reg.filetypes_df(spark)
        reg.extractors_df(spark)
        self.layers: list[dict] = []

    def items(self, i: int) -> int:
        return self.requests[i]["expect"]["files"]

    def check(self, i: int, out: dict) -> bool:
        # Exact: every value is a multiple of 0.25, so the sums are exact.
        expect = self.requests[i]["expect"]
        return all(out[k] == expect[k] for k in out)

    def _summary(self, out) -> dict:
        from pyspark.sql import functions as F

        v, fid = F.col("value"), F.col("file_id")
        return out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("method") == self.method).cast("long")).alias("method_rows"),
            F.sum(v).alias("sum_value"),
            F.sum(fid).alias("sum_id"),
            F.sum(fid * v).alias("sum_id_value"),
        ).collect()[0].asDict()

    def _dispatch(self, resolved):
        return self.execute_dispatched(resolved.select("file_id", "method", "setup", "rendered"))

    def request(self, i: int) -> dict:
        files = self.spark.read.parquet(self.requests[i]["path"])
        return self._summary(self._dispatch(self.engine.extract_batch(files)))

    def traced_request(self, i: int, rid: str) -> dict:
        span, path = self.tracer.span, self.requests[i]["path"]
        rec = {}
        with self.jobs.tagged(rid):
            with span("extract.read", rid) as s:
                files = self.spark.read.parquet(path)
            rec["read_s"] = s["end"] - s["start"]
            with span("extract.build", rid) as s:
                resolved = self.engine.extract_batch(files)
            rec["build_s"] = s["end"] - s["start"]
            with span("extract.resolve", rid) as s:
                resolved.write.format("noop").mode("overwrite").save()
            rec["resolve_s"] = s["end"] - s["start"]
            with span("extract.execute", rid) as s:
                out = self._summary(self._dispatch(resolved))
            rec["execute_s"] = s["end"] - s["start"]
        rec["execute_self_s"] = rec["execute_s"] - rec["resolve_s"]
        rec.update(self.jobs.counts(rid))
        rec.update(self._driver_calls(path, rid))
        self.layers.append(rec)
        return out

    def _driver_calls(self, path: str, rid: str, sample: int = 2000) -> dict:
        """Per-call times, in the driver, of the row-at-a-time template,
        call-parse and extractor-call functions over the request's first
        ``sample`` dispatched rows. The python-path functions read 0 on
        the cli path, which does not use them."""
        import pyarrow.parquet as pq

        from metadata_extractors_api_spark.functions.callparse import prepare_python_call
        from metadata_extractors_api_spark.functions.template import apply_template_args
        from metadata_extractors_api_spark.plans.extractors_fixture import execute_python_call
        from metadata_extractors_api_spark.sources import registry as reg

        rows = [
            r for r in pq.read_table(path, columns=["path", "filetype_id"]).to_pylist()
            if r["filetype_id"] != "orphan-type"
        ][:sample]
        # The registry fixture's routing: first registered extractor, the
        # usage row of the preferred (python) mode, else its last row.
        extractor = next(ft for ft in reg.FILETYPES if ft[0] == rows[0]["filetype_id"])[2][0]
        usage = next(ex for ex in reg.EXTRACTORS if ex[0] == extractor)[2]
        method, setup, command = next((u for u in usage if u[0] == "python"), usage[-1])

        span = self.tracer.span
        per_call_us = lambda s: 1e6 * (s["end"] - s["start"]) / len(rows)  # noqa: E731
        t = {"prepare_python_call_us": 0.0, "execute_python_call_us": 0.0}
        rendered = []
        with span("functions.template.apply_template_args", rid) as s:
            for r in rows:
                rendered.append(apply_template_args(
                    command, method, input_type=r["filetype_id"], input_path=r["path"],
                    output_path=r["path"].rsplit(".", 1)[0] + ".json",
                ))
        t["apply_template_args_us"] = per_call_us(s)
        if method == "python":
            with span("functions.callparse.prepare_python_call", rid) as s:
                for cmd in rendered:
                    prepare_python_call(cmd)
            t["prepare_python_call_us"] = per_call_us(s)
            with span("plans.extractors_fixture.execute_python_call", rid) as s:
                for cmd in rendered:
                    execute_python_call(cmd, setup)
            t["execute_python_call_us"] = per_call_us(s)
        return t

    def layer_metrics(self) -> dict:
        col = lambda k: median([r[k] for r in self.layers])  # noqa: E731
        m = {f"extract.{k}": col(k) for k in
             ("read_s", "build_s", "resolve_s", "execute_s", "execute_self_s")}
        m |= {f"spark.{k}": col(k) for k in ("jobs", "stages", "tasks")}
        m["functions.template.apply_template_args_us"] = col("apply_template_args_us")
        m["functions.callparse.prepare_python_call_us"] = col("prepare_python_call_us")
        m["plans.extractors_fixture.execute_python_call_us"] = col("execute_python_call_us")
        return m


class QueryRunner:
    """queries: one request is one registered query, built through the
    registry and collected. A pass runs every query once."""

    def __init__(self, spark, spec: dict, tracer, jobs, streams) -> None:
        from metadata_extractors_api_spark.registry import QUERIES

        self.spark, self.tracer, self.jobs, self.streams = spark, tracer, jobs, streams
        self.fns = [QUERIES[q] for q in inputs.QUERIES]
        self.sf_dir, self.expect = spec["sf_dir"], spec["expect"]
        self.per_pass = len(inputs.QUERIES)
        self.layers: dict[str, list[dict]] = {q: [] for q in inputs.QUERIES}

    def items(self, i: int) -> int:
        return 1

    def check(self, i: int, out) -> bool:
        return inputs.canon(out) == self.expect[inputs.QUERIES[i]]

    def request(self, i: int):
        return self.fns[i](self.spark, self.sf_dir).toPandas()

    def traced_request(self, i: int, rid: str):
        name = inputs.QUERIES[i]
        mark = self.streams.mark()
        with self.jobs.tagged(rid + "/build"), self.tracer.span(f"queries.{name}.build", rid) as b:
            df = self.fns[i](self.spark, self.sf_dir)
        with self.jobs.tagged(rid + "/exec"), self.tracer.span(f"queries.{name}.exec", rid) as e:
            out = df.toPandas()
        build, ex = self.jobs.counts(rid + "/build"), self.jobs.counts(rid + "/exec")
        rec = {
            "build_s": b["end"] - b["start"], "exec_s": e["end"] - e["start"],
            "build_jobs": build["jobs"], "exec_jobs": ex["jobs"],
            "tasks": build["tasks"] + ex["tasks"],
            "jobs": build["jobs"] + ex["jobs"], "stages": build["stages"] + ex["stages"],
        }
        if name.startswith("stream_"):
            progress = self.streams.take(mark)
            rec["stream"] = {
                "batches": len(progress),
                "input_rows": sum(p["input_rows"] for p in progress),
                "trigger_ms": sum(p["trigger_ms"] for p in progress),
                "state_commit_ms": sum(p["state_commit_ms"] for p in progress),
                "state_rows": max((p["state_rows"] for p in progress), default=0),
            }
        self.layers[name].append(rec)
        return out

    def layer_metrics(self) -> dict:
        m = {}
        every = [r for recs in self.layers.values() for r in recs]
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = median([r[k] for r in every])
        for name, recs in self.layers.items():
            for k in ("build_s", "exec_s", "build_jobs", "exec_jobs", "tasks"):
                m[f"queries.{name}.{k}"] = median([r[k] for r in recs])
        streams = [r["stream"] for r in every if "stream" in r]
        for k in ("batches", "input_rows", "trigger_ms", "state_commit_ms", "state_rows"):
            m[f"streaming.{k}"] = median([s[k] for s in streams])
        return m


def run_pass(runner, traced: bool, p: int) -> dict:
    """One pass: every request of the workload once, timed each; the
    outputs are checked after the pass."""
    outs, lat = [], []
    t_pass = time.perf_counter()
    for i in range(runner.per_pass):
        t = time.perf_counter()
        try:
            if traced:
                with runner.tracer.span("request", f"p{p}r{i}"):
                    out = runner.traced_request(i, f"p{p}r{i}")
            else:
                out = runner.request(i)
        except Exception as e:  # a failed request is counted in `failed`
            out = e
        lat.append(time.perf_counter() - t)
        outs.append(out)
    wall = time.perf_counter() - t_pass
    errors = [repr(o)[:300] for o in outs if isinstance(o, Exception)]
    ok = [not isinstance(o, Exception) and runner.check(i, o) for i, o in enumerate(outs)]
    items = sum(runner.items(i) for i, good in enumerate(ok) if good)
    return {"traced": traced, "wall_s": wall, "latency_s": lat, "ok": ok, "items": items,
            "errors": errors}


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    checkout = cfg["checkout"]
    t = time.perf_counter()
    sys.path.insert(0, checkout)
    import metadata_extractors_api_spark as pkg
    from metadata_extractors_api_spark.session import get_spark

    if not os.path.abspath(pkg.__file__).startswith(os.path.join(checkout, "")):
        raise RuntimeError(f"package imported from outside the checkout: {pkg.__file__}")
    import_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    import pyspark

    import spans

    tracer, jobs = spans.Tracer(), spans.JobGroup(sc)
    with open(cfg["inputs"]) as fh:
        spec = json.load(fh)
    if cfg["workload"] == "queries":
        streams = spans.StreamCounter()
        spark.streams.addListener(streams)
        runner = QueryRunner(spark, spec, tracer, jobs, streams)
    else:
        runner = ExtractRunner(spark, spec, tracer, jobs)

    warmup_passes, min_passes = inputs.PASSES[cfg["workload"]]
    t = time.perf_counter()
    warm = [run_pass(runner, False, -1 - w) for w in range(warmup_passes)]
    warmup_s = time.perf_counter() - t

    ready = time.time()
    timed = []
    t0 = time.perf_counter()
    while True:
        traced = cfg["trace"] and len(timed) % 2 == 1
        timed.append(run_pass(runner, traced, len(timed)))
        n_plain = sum(not p["traced"] for p in timed)
        n_traced = len(timed) - n_plain
        if (time.perf_counter() - t0 >= cfg["seconds"] and n_plain >= min_passes
                and (not cfg["trace"] or n_traced >= min_passes)):
            break

    plain = [p for p in timed if not p["traced"]]
    lat = [x for p in plain for x in p["latency_s"]]
    attempted = sum(len(p["ok"]) for p in warm + timed)
    failed = sum(not ok for p in warm + timed for ok in p["ok"])
    result = {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": ready - cfg["t0"] - cfg["gen_s"],
            "pass_s": median([p["wall_s"] for p in plain]),
            "items_per_s": sum(p["items"] for p in plain) / sum(lat),
            "request_p50_s": median(lat),
        },
        "detail": {
            "failed_ratio": failed / attempted,
            "errors": [e for p in warm + timed for e in p["errors"]][:5],
            "request_tail_s": tail(lat),
            "timed_passes": len(plain),
            "warmup_pass_s": [round(p["wall_s"], 4) for p in warm],
            "timed_pass_s": [round(p["wall_s"], 4) for p in plain],
            "shape": {
                "master": sc.master,
                "task_slots": sc.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": spark.conf.get("spark.driver.memory"),
                "pyspark": pyspark.__version__,
                "java": sc._jvm.System.getProperty("java.version"),
            },
        },
    }
    if cfg["trace"]:
        traced = [p for p in timed if p["traced"]]
        layers = dict.fromkeys(cfg["layer_names"], 0.0) | runner.layer_metrics() | {
            "session.import_s": import_s,
            "session.get_spark_s": get_spark_s,
            "session.jvm_hwm_mb": spans.vm_hwm_mb(sc._gateway.proc.pid),
            "setup.warmup_s": warmup_s,
            "trace.overhead_s": median([p["wall_s"] for p in traced]) - result["metrics"]["pass_s"],
        }
        result["layers"] = layers
        tracer.dump(cfg["trace_out"], {"layers": layers, "detail": result["detail"]})
    spark.stop()
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
