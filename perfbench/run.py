"""Benchmark of the sanctions pipeline and of a registry operator mix.

Usage (from the root of a checkout of the repo)::

    python3 perfbench/run.py --workload pipeline_matched --seed 1 --seconds 10 --trace 0

Workloads (one Python process each, Spark pinned to ``local[2]``):

- ``pipeline_matched``: 2,000 generated entities plus a travel-ban PDF
  listing about 60% of them, through ``cli.main --feed --pdf --out``.
- ``pipeline_feed_only``: 30,000 generated entities, feed only.
- ``operator_mix``: ten registry queries over generated tables at scale
  0.01, with ``spark.catalog.clearCache()`` before every query.

A run sets up (session, seeded inputs generated ``gen_repeats`` times so
that ``setup_s`` counts the median generation time, one tiny warm-up job),
times the first full run as ``cold_s``, then repeats the workload until
``--seconds`` have passed (at least ``MIN_STEADY`` times). Every run's
output goes through the correctness gate in ``check.py``.

``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median steady
run), ``cpu_s`` (median CPU of the whole process tree per steady run),
``cold_s``, ``setup_s`` and ``peak_rss_mb`` (sampled only inside the
timed runs; see ``probe.RssSampler``). ``--trace 1`` alternates
untraced runs with traced ones and prints the per-layer metrics: each
layer's public function is called in turn under its own job group, its
output persisted and materialized, and a span recorded; Spark's status
store gives each span's jobs, tasks, bytes, spill and GC. Spans are kept
in memory and written to ``.perfbench/`` at the end.

The line before the last one is a JSON detail record (host record, error
rate, per-run times, count spreads); the last line is the result.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SLOTS = 2
MIN_STEADY = 2
QUERIES = ["dd_cluster", "dd_simhash", "dd_ngram_jaccard", "sim_ann_ivfpq",
           "tx_bm25", "tx_perplexity", "tok_unigram_lm", "q_recursive_walk",
           "q1_pricing_summary", "q3_shipping_priority"]
WORKLOADS = {
    "pipeline_matched": {"entities": 2000, "pdf": True},
    "pipeline_feed_only": {"entities": 30000, "pdf": False},
    "operator_mix": {"scale": 0.01},
}
SESSION_METRICS = {"session.jobs": "count", "session.tasks": "count",
                   "session.slot_util": "ratio", "session.shuffle_mb": "MB",
                   "session.gc_s": "s", "session.cache_entries_after": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit; the same set on every workload
    (a layer a workload does not reach reads 0)."""
    units = {
        "xml_source.self_s": "s", "xml_source.tasks": "count",
        "xml_source.input_mb": "MB", "fields.build_s": "s", "fields.self_s": "s",
        "pdf_source.self_s": "s", "pdf_source.chunks": "count",
        "matching.build_s": "s", "matching.self_s": "s", "matching.jobs": "count",
        "matching.hit_ratio": "ratio", "matching.filled": "count",
        "matching.conflict": "count", "matching.empty_unique": "count",
        "gender.self_s": "s", "sinks.self_s": "s", "sinks.bytes_written": "B",
        "trace.total_s": "s", "trace.overhead_s": "s",
    }
    for q in QUERIES:
        units.update({f"{q}.wall_s": "s", f"{q}.build_s": "s", f"{q}.jobs": "count",
                      f"{q}.shuffle_mb": "MB", f"{q}.spill_mb": "MB"})
    units.update(SESSION_METRICS)
    return units


END_TO_END = {"wall_s": "s", "cpu_s": "s", "cold_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Bench:
    gen_repeats = 3  # set-up is timed this often per run; the median counts

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: float | None = None):
        self.workload, self.seed, self.seconds, self.trace = \
            workload, seed, seconds, trace
        self.cfg = dict(WORKLOADS[workload])
        if size:
            key = "scale" if workload == "operator_mix" else "entities"
            self.cfg[key] = size if key == "scale" else int(size)
        self.work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.runs: list[dict] = []
        self.spans: list[dict] = []
        self.hashes: set[str] = set()
        self.root_self_s: list[float] = []  # traced pipeline time outside layers
        self.pinned = None  # pipeline only: was the output hash pinned
        from probe import RssSampler

        self.rss = RssSampler()

    # --- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from probe import SparkCounters

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            # spark-submit's helper JVM that builds the driver command line
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_DRIVER_MEM": "2g", "PYSPARK_PYTHON": sys.executable})
        from sanctions_data_pipeline_spark.session import get_spark

        # heap fixed at 2 GB from the start: left to grow, the JVM's sizing
        # decisions moved peak RSS by up to 35% between identical runs
        self.spark = get_spark("perfbench", cpus=SLOTS, extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)
        session_s = time.perf_counter() - T_START
        self.rss.base()

        # the same inputs, rewritten in place; the median time counts
        self.inputs, gen_times = os.path.join(self.work, "inputs"), []
        for _ in range(self.gen_repeats):
            t0 = time.perf_counter()
            self.gen = self._generate(self.inputs)
            gen_times.append(time.perf_counter() - t0)
        if self.workload != "operator_mix":
            from check import expected_rem2

            self.expected = expected_rem2(self.gen)

        t0 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        warm_s = time.perf_counter() - t0
        self.setup_s = session_s + statistics.median(gen_times) + warm_s
        self.setup_detail = {"session_s": round(session_s, 3),
                             "gen_s": [round(g, 3) for g in gen_times],
                             "warmup_s": round(warm_s, 3)}

    def _generate(self, out: str):
        if self.workload == "operator_mix":
            import gen_tables

            return gen_tables.generate(self.seed, self.cfg["scale"], out)
        import gen_sanctions

        return gen_sanctions.generate(self.seed, self.cfg["entities"], out,
                                      with_pdf=self.cfg["pdf"])

    # --- one run -----------------------------------------------------------

    def timed(self, fn, label: str) -> dict:
        """Run ``fn`` once, timing wall and process-tree CPU, with Spark
        counters around it; a raised error or a failed gate counts."""
        from probe import tree_cpu_s

        self.attempted += 1
        cpu0, mark = tree_cpu_s(), self.counters.mark()
        t0 = time.perf_counter()
        try:
            with self.rss.window():
                check = fn()
            wall = time.perf_counter() - t0
        except Exception as exc:  # counted, reported, not fatal
            wall, error = time.perf_counter() - t0, [repr(exc)[:300]]
            check = lambda: error  # noqa: E731
        cpu = tree_cpu_s() - cpu0
        stats = self.counters.since(mark)
        # the operator pass clears the cache per query and records the most
        # entries any query left behind
        stats["cache_entries_after"] = max(self.counters.cache_entries(),
                                           self.__dict__.pop("pass_cache_max", 0))
        problems = check()
        if problems:
            self.failed += 1
            self.problems += [f"{label}: {p}" for p in problems[:3]]
        run = {"label": label, "wall_s": wall, "cpu_s": cpu, "ok": not problems,
               **stats}
        self.runs.append(run)
        return run

    def run_once(self, label: str) -> dict:
        if self.workload == "operator_mix":
            return self.timed(self._operator_pass, label)
        return self.timed(self._pipeline_cli, label)

    # --- pipeline ----------------------------------------------------------

    def _pipeline_cli(self):
        from sanctions_data_pipeline_spark import cli

        out = os.path.join(self.work, "out.parquet")
        args = ["--feed", self.gen.xml_path, "--out", out,
                "--master", f"local[{SLOTS}]"]
        if self.gen.pdf_path:
            args += ["--pdf", self.gen.pdf_path]
        with contextlib.redirect_stdout(io.StringIO()):
            cli.main(args)
        return lambda: self._check_pipeline_output(out)

    def _check_pipeline_output(self, out: str) -> list[str]:
        import pyarrow.parquet as pq
        from check import check_pipeline, pinned
        from sanctions_data_pipeline_spark.pipeline import OUTPUT_COLUMNS

        table = pq.read_table(out).to_pydict()
        self.state_counts = {s: table["REM2_STATE"].count(s)
                             for s in ("filled", "conflict", "empty_unique")}
        pin = pinned(self.workload, self.seed, self.cfg["entities"])
        self.pinned = pin is not None
        problems, digest = check_pipeline(table, self.expected, OUTPUT_COLUMNS, pin)
        self.hashes.add(digest)
        if len(self.hashes) > 1:
            problems.append("output differs between runs of one process")
        return problems

    def _pipeline_traced(self, run_id: str):
        """Each layer's public function in turn, its output persisted and
        materialized inside its span."""
        from pyspark.sql import functions as F
        from sanctions_data_pipeline_spark.functions.gender import infer_gender
        from sanctions_data_pipeline_spark.pipeline import (
            finalize, match_rem2, select_entity_fields)
        from sanctions_data_pipeline_spark.sources import sinks
        from sanctions_data_pipeline_spark.sources.pdf_source import (
            chunk_entities, extract_pdf_text, parse_chunk_fields)
        from sanctions_data_pipeline_spark.sources.xml_source import (
            entities_table, read_entities)

        spark, cached = self.spark, []
        out = os.path.join(self.work, "out.parquet")

        def keep(df):
            cached.append(df.persist())
            return df

        with self.span(run_id, "pipeline") as root:
            with self.span(run_id, "xml_source", root):
                entities = keep(entities_table(read_entities(spark, self.gen.xml_path)))
                entities.count()
            with self.span(run_id, "fields", root) as sp:
                with self.span(run_id, "fields.build", sp):
                    fields = keep(select_entity_fields(entities))
                fields.count()
            if self.gen.pdf_path:
                with self.span(run_id, "pdf_source", root) as sp:
                    pdf_fields = keep(parse_chunk_fields(chunk_entities(
                        extract_pdf_text(spark, self.gen.pdf_path))))
                    sp["chunks"] = pdf_fields.count()
                with self.span(run_id, "matching", root) as sp:
                    with self.span(run_id, "matching.build", sp):
                        matched = keep(match_rem2(fields, pdf_fields))
                    matched.count()
            else:
                matched = (fields.withColumn("rem2", F.lit(""))
                           .withColumn("rem2_state", F.lit("empty_unique")))
            with self.span(run_id, "gender", root):
                gendered = keep(infer_gender(matched, "full_name", "gender_attr"))
                gendered.count()
            with self.span(run_id, "sinks", root):
                sinks.write_output(finalize(gendered), out, fmt="parquet")
        self.trace_extra = {"bytes_written": sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
            if f.endswith(".parquet"))}
        if self.gen.pdf_path:
            hits = matched.filter(F.col("rem2_candidate") != "").count()
            self.trace_extra["hit_ratio"] = hits / len(self.gen.entities)
        for df in cached:
            df.unpersist()
        return lambda: self._check_pipeline_output(out)

    # --- operator mix ------------------------------------------------------

    def _operator_pass(self, run_id: str | None = None):
        from sanctions_data_pipeline_spark.plans import registry

        builders = registry.queries()
        results, self.pass_cache_max = {}, 0
        for q in QUERIES:
            self.spark.catalog.clearCache()
            with self.span(run_id, q) as sp:
                with self.span(run_id, f"{q}.build", sp):
                    df = builders[q](self.spark, self.inputs)
                results[q] = df.toPandas()
            self.pass_cache_max = max(self.pass_cache_max,
                                      self.counters.cache_entries())
        self.spark.catalog.clearCache()
        return lambda: self._check_operator_results(results)

    def _check_operator_results(self, results: dict) -> list[str]:
        from check import content_hash, load_compare

        if not hasattr(self, "oracle"):
            from sanctions_data_pipeline_spark.plans import registry

            compare, duck_con = load_compare()
            con = duck_con(self.inputs)
            sql = registry.oracle_sql()
            self.compare = compare
            self.oracle = {q: con.execute(sql[q]).fetchdf() for q in QUERIES if q in sql}
            self.first_pass = {}
        problems = []
        for q, pdf in results.items():
            if q in self.oracle:
                problems += [f"{q}: {p}" for p in self.compare(q, pdf, self.oracle[q])]
                continue
            digest = (len(pdf), content_hash({c: list(map(repr, pdf[c])) for c in pdf}))
            first = self.first_pass.setdefault(q, digest)
            if digest[0] != first[0]:
                problems.append(f"{q}: {digest[0]} rows, first pass {first[0]}")
            elif digest != first:
                self.nondeterministic = getattr(self, "nondeterministic", set()) | {q}
        return problems

    # --- tracing -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, run_id: str | None, name: str, parent: dict | None = None):
        """A span (name, start, end, parent, run id) with the status-store
        counters of the jobs it ran; a no-op when ``run_id`` is None."""
        if run_id is None:
            yield {}
            return
        sc = self.spark.sparkContext
        group = f"{run_id}/{name}"
        sc.setJobGroup(group, name)
        rec = {"name": name, "run": run_id, "group": group,
               "parent": parent["name"] if parent else None, "children": []}
        if parent:
            parent["children"].append(rec)
        mark = self.counters.mark()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec.update(self.counters.since(mark))
            self.spans.append(rec)
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def traced_once(self, k: int) -> dict:
        run_id = f"trace{k}"
        if self.workload == "operator_mix":
            return self.timed(lambda: self._operator_pass(run_id), run_id)
        return self.timed(lambda: self._pipeline_traced(run_id), run_id)

    # --- the measurement ---------------------------------------------------

    def measure(self) -> None:
        from probe import cpu_probe_ms, host_record, host_snapshot

        before = host_snapshot()
        with self.rss:
            self.setup()
            probe_ms = [cpu_probe_ms()]  # after set-up, before the first run
            self.cold = self.run_once("cold")
            t0, k = time.perf_counter(), 0
            self.steady: list[dict] = []
            while k < (1 if self.trace else MIN_STEADY) \
                    or time.perf_counter() - t0 < self.seconds:
                self.steady.append(self.run_once(f"steady{k}"))
                if self.trace:
                    self.traced_once(k)
                k += 1
        self.peak_rss_mb = self.rss.peak_mb
        probe_ms.append(cpu_probe_ms())
        self.host = host_record(before, host_snapshot(), SLOTS, probe_ms)

    def end_to_end(self) -> dict:
        med = lambda key: statistics.median(r[key] for r in self.steady)  # noqa: E731
        vals = {"wall_s": med("wall_s"), "cpu_s": med("cpu_s"),
                "cold_s": self.cold["wall_s"], "setup_s": self.setup_s,
                "peak_rss_mb": self.peak_rss_mb}
        return {k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in vals.items()}

    def per_layer(self) -> tuple[dict, dict]:
        """Per-layer metrics (medians over traced runs) and count spreads."""
        units = per_layer_units()
        vals = {k: [] for k in units}
        runs = sorted({s["run"] for s in self.spans})
        for run in runs:
            spans = {s["name"]: s for s in self.spans if s["run"] == run}
            got = {}
            for name, s in spans.items():
                dur = s["end"] - s["start"]
                self_s = dur - sum(c["end"] - c["start"] for c in s["children"])
                layer = name.split(".")[0]
                if name.endswith(".build"):
                    got[f"{layer}.build_s"] = dur
                elif name in QUERIES:
                    got.update({f"{name}.wall_s": dur, f"{name}.jobs": s["jobs"],
                                f"{name}.shuffle_mb": s["shuffle_write_b"] / 2 ** 20,
                                f"{name}.spill_mb": s["spill_b"] / 2 ** 20})
                elif name != "pipeline":
                    got[f"{name}.self_s"] = self_s
                if name == "xml_source":
                    got["xml_source.tasks"] = s["tasks"]
                    got["xml_source.input_mb"] = s["input_b"] / 2 ** 20
                if name == "pdf_source":
                    got["pdf_source.chunks"] = s["chunks"]
                if name == "matching":
                    got["matching.jobs"] = s["jobs"]
            if "pipeline" in spans:
                root = spans["pipeline"]
                got["trace.total_s"] = root["end"] - root["start"]
                self.root_self_s.append(got["trace.total_s"] - sum(
                    c["end"] - c["start"] for c in root["children"]))
            else:
                got["trace.total_s"] = sum(spans[q]["end"] - spans[q]["start"]
                                           for q in QUERIES)
            for key, v in got.items():
                vals[key].append(v)
        vals["trace.overhead_s"] = [statistics.median(vals["trace.total_s"])
                                    - statistics.median(r["wall_s"] for r in self.steady)]
        if self.workload != "operator_mix":
            if self.gen.pdf_path:
                vals["matching.hit_ratio"] = [self.trace_extra["hit_ratio"]]
                for state, n in self.state_counts.items():  # of the last traced output
                    vals[f"matching.{state}"] = [n]
            vals["sinks.bytes_written"] = [self.trace_extra["bytes_written"]]
        steady = self.steady
        vals["session.jobs"] = [r["jobs"] for r in steady]
        vals["session.tasks"] = [r["tasks"] for r in steady]
        vals["session.slot_util"] = [r["run_ms"] / 1000 / (r["wall_s"] * SLOTS)
                                     for r in steady]
        vals["session.shuffle_mb"] = [r["shuffle_write_b"] / 2 ** 20 for r in steady]
        vals["session.gc_s"] = [r["jvm_gc_ms"] / 1000 for r in steady]
        vals["session.cache_entries_after"] = [r["cache_entries_after"] for r in steady]
        metrics = {k: {"value": round(statistics.median(v), 6) if v else 0,
                       "unit": units[k]} for k, v in vals.items()}
        spread = {k: [min(v), max(v)] for k, v in vals.items()
                  if units[k] == "count" and len(v) > 1 and min(v) != max(v)}
        return metrics, spread

    def shutdown(self) -> None:
        """Stop Spark, then the JVM (it exits when its stdin closes), and wait
        until no process started by this one is left."""
        from probe import tree_pids

        spark = getattr(self, "spark", None)
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while len(tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)

    def write_spans(self) -> str:
        path = os.path.join(ROOT, ".perfbench",
                            f"spans-{self.workload}-seed{self.seed}.json")
        t0 = min((s["start"] for s in self.spans), default=0)
        spans = [{k: (round(v - t0, 6) if k in ("start", "end") else v)
                  for k, v in s.items() if k != "children"} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(spans, fh, indent=1)
        return path


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=float,
                   help="entity count or table scale instead of the workload's "
                        "(the self-test runs tiny sizes)")
    args = p.parse_args(argv)
    for need in ("sanctions_data_pipeline_spark/pipeline.py",
                 "tools/make_pdf_fixture.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"run from the root of a checkout of the repo ({need} not found)")
    sys.path[:0] = [ROOT, HERE]

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.size)
    try:
        bench.measure()
        if args.trace:
            metrics, spread = bench.per_layer()
            spans_path = bench.write_spans()
        else:
            metrics, spread, spans_path = bench.end_to_end(), {}, None
    finally:
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": bench.host, "setup": bench.setup_detail,
        "error_rate": {"value": bench.failed / bench.attempted, "unit": "ratio"},
        "problems": bench.problems,
        "runs": [{k: (round(v, 4) if isinstance(v, float) else v)
                  for k, v in r.items()} for r in bench.runs],
        "count_spread": spread,
        "output_hash": sorted(bench.hashes),
        # whether the output hash was compared with a pin (pipeline seeds
        # 0-99 are pinned in pins.json); unpinned, only REM2 and
        # REM2_STATE are checked row by row
        "pinned": bench.pinned,
        "nondeterministic_hash": sorted(getattr(bench, "nondeterministic", ())),
        "spans_file": spans_path and os.path.relpath(spans_path, ROOT),
    }
    if args.trace:
        detail["trace_root_self_s"] = [round(x, 4) for x in bench.root_self_s]
        detail["overhead_note"] = ("trace.overhead_s = traced total - median "
                                   "untraced wall; it includes the upstream "
                                   "recomputation that persisting each stage removes")
    print(json.dumps(detail))
    print(json.dumps({"correct": bench.failed == 0 and not bench.problems,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
