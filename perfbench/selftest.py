"""Self-test of the benchmark at tiny sizes (200 entities, tables at scale
0.001), run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that

- every workload, with ``--trace 0`` and ``--trace 1``, ends with a result
  line naming every end-to-end (or per-layer) metric with its unit, and is
  correct;
- the traced pipeline runs record a span per layer, and the traced
  operator mix one per query;
- the pipeline runs are checked against a pinned output hash (seed 7 at
  200 entities is pinned in ``pins.json``);
- both generators give byte-identical files for one seed;
- a corrupted REM2 cell, a corrupted GENDER cell (caught only by the
  pinned hash) and a corrupted query result trip the gate;
- the benchmark refuses to run where the program is missing.

Exit status 0 when all hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402

TINY = {"pipeline_matched": 200, "pipeline_feed_only": 200, "operator_mix": 0.001}
LAYER_SPANS = {
    "pipeline_matched": {"pipeline", "xml_source", "fields", "fields.build",
                         "pdf_source", "matching", "matching.build", "gender",
                         "sinks"},
    "pipeline_feed_only": {"pipeline", "xml_source", "fields", "fields.build",
                           "gender", "sinks"},
    "operator_mix": set(run.QUERIES) | {f"{q}.build" for q in run.QUERIES},
}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", str(TINY[workload])],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def check_cli(failures: list[str]) -> None:
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            tag = f"{workload} --trace {trace}"
            proc = _run(workload, trace)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or len(lines) < 2:
                failures.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-500:]}")
                continue
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                failures.append(f"{tag}: not correct: {detail['problems'][:2]}")
            want = run.per_layer_units() if trace else run.END_TO_END
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            if got != want:
                failures.append(f"{tag}: metrics/units differ from the declared set")
            if "error_rate" not in detail or "host" not in detail:
                failures.append(f"{tag}: detail lacks error_rate or host")
            if workload != "operator_mix" and detail.get("pinned") is not True:
                failures.append(f"{tag}: output hash not compared with a pin")
            if trace:
                with open(os.path.join(ROOT, detail["spans_file"])) as fh:
                    names = {s["name"] for s in json.load(fh)}
                missing = LAYER_SPANS[workload] - names
                if missing:
                    failures.append(f"{tag}: no span for {sorted(missing)}")
            print(f"ok    {tag}", flush=True)


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def check_generators(failures: list[str]) -> None:
    import gen_sanctions
    import gen_tables

    base = os.path.join(ROOT, ".perfbench", "selftest-gen")
    for name, gen in (("gen_sanctions", lambda out: gen_sanctions.generate(
                          7, TINY["pipeline_matched"], out)),
                      ("gen_tables", lambda out: gen_tables.generate(
                          7, TINY["operator_mix"], out))):
        digests = set()
        for k in range(2):
            out = os.path.join(base, f"{name}{k}")
            gen(out)
            digests.add(_dir_digest(out))
        shutil.rmtree(base)
        if len(digests) != 1:
            failures.append(f"{name}: one seed gave different bytes")
        else:
            print(f"ok    {name} is byte-identical for one seed", flush=True)


class _CorruptPipeline(run.Bench):
    """Changes one cell of ``column`` in every written analyst table: REM2
    is checked row by row, GENDER only through the pinned hash."""

    def __init__(self, column: str, *args):
        super().__init__(*args)
        self.column = column

    def _pipeline_cli(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        check = super()._pipeline_cli()
        out = os.path.join(self.work, "out.parquet")
        table = pq.read_table(out)
        cells = table.column(self.column).to_pylist()
        cells[0] = {"Male": "Female", "Female": "Male"}.get(cells[0], cells[0] + "x")
        table = table.set_column(table.schema.get_field_index(self.column),
                                 self.column, pa.array(cells))
        shutil.rmtree(out)
        os.makedirs(out)
        pq.write_table(table, os.path.join(out, "part-0.parquet"))
        return check


class _CorruptOperators(run.Bench):
    """Drops the last row of every query result."""

    def _check_operator_results(self, results):
        return super()._check_operator_results(
            {q: df.iloc[:-1] if len(df) else df for q, df in results.items()})


def check_corruption(failures: list[str]) -> None:
    args = ("pipeline_matched", 7, 0, False, TINY["pipeline_matched"])
    benches = {"REM2": _CorruptPipeline("REM2", *args),
               "GENDER": _CorruptPipeline("GENDER", *args),
               "query result": _CorruptOperators("operator_mix", 7, 0, False,
                                                 TINY["operator_mix"])}
    try:
        for what, bench in benches.items():
            bench.measure()
            if bench.failed != bench.attempted:
                failures.append(f"corrupted {what}: {bench.failed} of "
                                f"{bench.attempted} runs failed the gate")
            else:
                print(f"ok    corrupted {what} trips the gate: "
                      f"{bench.problems[0][:90]}", flush=True)
    finally:  # the benches share one Spark session
        benches = list(benches.values())
        next((b for b in benches if hasattr(b, "spark")), benches[0]).shutdown()
        for bench in benches:
            shutil.rmtree(bench.work, ignore_errors=True)


def check_refuses(failures: list[str]) -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _run("pipeline_matched", 0, cwd=bare)
    shutil.rmtree(bare)
    if proc.returncode == 0 or proc.stdout.strip():
        failures.append("ran without the program next to it")
    else:
        print("ok    refuses to run without the program", flush=True)


def main() -> int:
    failures: list[str] = []
    check_generators(failures)
    check_cli(failures)
    check_corruption(failures)
    check_refuses(failures)
    for f in failures:
        print(f"FAIL  {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
