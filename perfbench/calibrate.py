"""Compare the tables ``gen_tables.py`` writes with a reference set of the
test tables (TESTDATA.md), column by column and query by query, so the
generator's parameters can be checked against real data. Run from the
root of a checkout:

    python3 perfbench/calibrate.py REF_DIR [SEED ...]

``REF_DIR`` holds the reference tables at scale 0.01 (one parquet file per
table). For each table it prints row counts and, per column, the distinct
count, min/max and mean (string length for strings, list length for
lists), with document vocabulary, length and near-duplicate counts and the
embeddings' cosine to their label centroid. Then it runs the ten
``operator_mix`` queries on the reference and on every seed's generated
tables (Spark ``local[2]``, cache cleared before each query) and prints
each query's row count, Spark job count and median wall time of three
runs (after a warm-up pass over every query), marking a query whose
reference row count lies outside the generated seeds' range.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [ROOT, HERE]

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen_tables  # noqa: E402
from run import QUERIES, SLOTS  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def column_stats(col: pa.ChunkedArray) -> dict:
    t = col.type
    if pa.types.is_list(t):
        vals = pc.list_value_length(col)
    elif pa.types.is_string(t):
        vals = pc.utf8_length(col)
    elif pa.types.is_timestamp(t):
        vals = col.cast(pa.int64())
    else:
        vals = col
    out = {"distinct": len(pc.unique(col)) if not pa.types.is_list(t) else None}
    mm = pc.min_max(vals)
    out.update(min=mm["min"].as_py(), max=mm["max"].as_py(),
               mean=round(pc.mean(vals).as_py(), 3))
    return out


def table_stats(path: str) -> dict:
    stats = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(path, f"{name}.parquet"))
        stats[name] = {"rows": t.num_rows,
                       "cols": {c: column_stats(t.column(c)) for c in t.column_names}}
    docs = pq.read_table(os.path.join(path, "documents.parquet")).column("text").to_pylist()
    words = [w for d in docs for w in d.split()]
    stats["documents"]["text"] = {
        "vocab": len(set(words)), "words_per_doc": round(len(words) / len(docs), 2),
        "exact_dups": len(docs) - len(set(docs)),
        "docs_with_dup_token": sum("dup" in d.split() for d in docs)}
    emb = pq.read_table(os.path.join(path, "embeddings.parquet")).to_pandas()
    vecs, labels = np.stack(emb["embedding"].to_numpy()), emb["label"].to_numpy()
    cos = []
    for lab in np.unique(labels):
        v = vecs[labels == lab]
        c = v.mean(axis=0)
        cos.append(v @ (c / np.linalg.norm(c)))
    stats["embeddings"]["vec"] = {"dim": vecs.shape[1], "labels": len(np.unique(labels)),
                                  "cos_to_centroid": round(float(np.concatenate(cos).mean()), 3)}
    return stats


def print_table_diff(ref: dict, gens: dict[int, dict]) -> None:
    for name in TABLES:
        print(f"{name}: rows ref {ref[name]['rows']} gen "
              f"{[g[name]['rows'] for g in gens.values()]}")
        for col, r in ref[name]["cols"].items():
            g = gens[next(iter(gens))][name]["cols"][col]
            print(f"  {col:18} ref {r}\n  {'':18} gen {g}")
        for extra in ("text", "vec"):
            if extra in ref[name]:
                print(f"  {extra:18} ref {ref[name][extra]}")
                for seed, g in gens.items():
                    print(f"  {'':18} gen {g[name][extra]} (seed {seed})")


def query_profile(spark, counters, path: str) -> dict:
    from sanctions_data_pipeline_spark.plans import registry

    builders, out = registry.queries(), {}
    for q in QUERIES:
        walls, jobs, rows = [], [], None
        for _ in range(4):  # first run warms up and is dropped
            spark.catalog.clearCache()
            mark = counters.mark()
            t0 = time.perf_counter()
            rows = len(builders[q](spark, path).toPandas())
            walls.append(time.perf_counter() - t0)
            jobs.append(counters.since(mark)["jobs"])
        out[q] = {"rows": rows, "jobs": jobs[1:], "wall_s": round(statistics.median(walls[1:]), 3)}
    spark.catalog.clearCache()
    return out


def main(argv: list[str]) -> int:
    ref_dir, seeds = argv[0], [int(s) for s in argv[1:]] or [1, 2, 3]
    work = os.path.join(ROOT, ".perfbench", f"calibrate-{os.getpid()}")
    gen_dirs = {}
    for seed in seeds:
        gen_dirs[seed] = os.path.join(work, f"seed{seed}")
        gen_tables.generate(seed, 0.01, gen_dirs[seed])
    print_table_diff(table_stats(ref_dir), {s: table_stats(d) for s, d in gen_dirs.items()})

    from probe import SparkCounters
    from sanctions_data_pipeline_spark.session import get_spark

    spark = get_spark("calibrate", cpus=SLOTS)
    spark.sparkContext.setLogLevel("ERROR")
    counters = SparkCounters(spark)
    try:
        query_profile(spark, counters, ref_dir)  # JIT warm-up pass, dropped
        gens = {s: query_profile(spark, counters, d) for s, d in gen_dirs.items()}
        ref = query_profile(spark, counters, ref_dir)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(f"\n{'query':22} {'ref rows':>9} {'gen rows':>22} {'ref jobs':>10} "
          f"{'gen jobs':>14} {'ref s':>6} {'gen s':>18}")
    for q in QUERIES:
        r, g = ref[q], [gens[s][q] for s in seeds]
        rows = [x["rows"] for x in g]
        print(f"{q:22} {r['rows']:>9} {str(rows):>22} "
              f"{str(sorted(set(r['jobs']))):>10} "
              f"{str(sorted({j for x in g for j in x['jobs']})):>14} "
              f"{r['wall_s']:>6} {str([x['wall_s'] for x in g]):>18}"
              + ("" if min(rows) <= r["rows"] <= max(rows) else "  outside seed range"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
