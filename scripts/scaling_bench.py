"""Scaling-efficiency evidence for the north rule: the same extraction job at
multiple parallelism levels on identical input (local[k] standing in for a
k-executor cluster), reporting docs/sec at each + N→4N efficiency.

Hardware note (measured, see BENCH/BASELINE.md): on a 32-logical-CPU host
throughput saturated near 16 — classic SMT/hyperthreading. A
pure-multiprocessing probe of the extraction kernel (no Spark) showed the
same ceiling, so an 8→32 ratio measures the hardware, not the engine. The
local[1] → local[4] pair is the headline N→4N comparison; the 8→32 pair runs
only when ``default_cpus()`` is at least 32.

Each level runs in a fresh subprocess (clean JVM/thread pool); Python UDF
workers are warmed before timing (real clusters run long-lived executors).

Usage: python scripts/scaling_bench.py [n_pages]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from batch_doc_vqa_spark.session import default_cpus  # noqa: E402

_PAIRED_WORKER = r"""
import sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from batch_doc_vqa_spark.session import get_spark
from batch_doc_vqa_spark.functions.udfs import extract_udf
from batch_doc_vqa_spark.sources.pages import pages_df

cores = int(sys.argv[1]); n = int(sys.argv[2])
spark = get_spark("paired", master=f"local[{cores}]", shuffle_partitions=cores)
pages = pages_df(spark, n, seed=42, partitions=max(cores * 2, 8)).persist()
pages.count()
warm = pages_df(spark, max(cores, 4) * 64, seed=7, partitions=cores)
warm.withColumn("_ex", extract_udf(F.col("html"))).select(F.length("_ex.text")).count()
print("READY", flush=True)
for line in sys.stdin:
    if line.strip() != "go":
        break
    t0 = time.perf_counter()
    pages.withColumn("_ex", extract_udf(F.col("html"))).select(
        F.length("_ex.text").alias("nc")).agg(F.sum("nc")).collect()
    print(f"T {time.perf_counter() - t0}", flush=True)
"""


def paired_efficiency(lo_cores: int, hi_cores: int, n_pages: int, reps: int = 8) -> dict:
    """Interleaved timed reps of two parallelism levels.

    Both JVMs stay alive; each 'pair' runs the low level then immediately the
    high level, so both sample the same host-noise window. Efficiency is
    computed per pair; the median pair is the headline (best also reported).
    """
    code = _PAIRED_WORKER % {"repo": REPO}
    procs = {}
    for c in (lo_cores, hi_cores):
        procs[c] = subprocess.Popen(
            [sys.executable, "-c", code, str(c), str(n_pages)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, bufsize=1,
        )
    for c, p in procs.items():
        while True:
            line = p.stdout.readline()
            if line.strip() == "READY":
                break

    def one_rep(p):
        p.stdin.write("go\n")
        p.stdin.flush()
        while True:
            line = p.stdout.readline()
            if line.startswith("T "):
                return float(line.split()[1])

    pairs = []
    for _ in range(reps):
        t_lo = one_rep(procs[lo_cores])
        t_hi = one_rep(procs[hi_cores])
        pairs.append((t_lo, t_hi, (t_lo / t_hi) / (hi_cores / lo_cores)))
    for p in procs.values():
        p.stdin.close()
        p.wait(timeout=60)
    effs = sorted(e for _, _, e in pairs)
    best_lo = min(t for t, _, _ in pairs)
    best_hi = min(t for _, t, _ in pairs)
    return {
        "pairs": [[round(a, 2), round(b, 2), round(e, 3)] for a, b, e in pairs],
        "eff_median_pair": round(effs[len(effs) // 2], 3),
        "eff_best_pair": round(effs[-1], 3),
        "lo_docs_per_sec_best": round(n_pages / best_lo, 1),
        "hi_docs_per_sec_best": round(n_pages / best_hi, 1),
    }


_LINEAGE_WORKER = r"""
import json, shutil, sys, tempfile
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from batch_doc_vqa_spark.session import get_spark
from batch_doc_vqa_spark.plans import read_lineage, run_extraction
from batch_doc_vqa_spark.sources.pages import pages_df

n = int(sys.argv[1])
spark = get_spark("lineage")
out = tempfile.mkdtemp(prefix="lineage_bench_")
try:
    run_extraction(spark, pages_df(spark, n, seed=42), out, run_id="dist", num_buckets=64)
    lin = read_lineage(spark, out)
    stats = lin.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("n_docs").alias("min_docs"),
        F.expr("percentile(n_docs, 0.5)").alias("p50_docs"),
        F.max("n_docs").alias("max_docs"),
        F.min("n_bytes").alias("min_bytes"),
        F.expr("percentile(n_bytes, 0.5)").alias("p50_bytes"),
        F.max("n_bytes").alias("max_bytes"),
        F.sum("n_failed").alias("n_failed"),
    ).collect()[0].asDict()
    print(json.dumps(stats))
finally:
    shutil.rmtree(out, ignore_errors=True)
"""


def partition_distribution(n_pages: int) -> dict:
    code = _LINEAGE_WORKER % {"repo": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code, str(n_pages)], capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
    # interleaved paired reps: both levels of a pair sample the same host-noise
    # window, so the efficiency ratio is robust to CPU-steal drift
    p14 = paired_efficiency(1, 4, n_pages, reps=8)
    p832 = paired_efficiency(8, 32, n_pages, reps=8) if default_cpus() >= 32 else None
    dist = partition_distribution(min(n_pages, 50_000))
    report = {
        "n_pages": n_pages,
        "local1_docs_per_sec": p14["lo_docs_per_sec_best"],
        "local4_docs_per_sec": p14["hi_docs_per_sec_best"],
        "efficiency_1_to_4_median_pair": p14["eff_median_pair"],
        "efficiency_1_to_4_pairs": p14["pairs"],
        "partition_distribution": dist,
    }
    rows_832 = ""
    if p832:
        report.update(
            local8_docs_per_sec=p832["lo_docs_per_sec_best"],
            local32_docs_per_sec=p832["hi_docs_per_sec_best"],
            efficiency_8_to_32_median_pair=p832["eff_median_pair"],
        )
        rows_832 = (
            f"| docs/sec @ local[8] (best) | {p832['lo_docs_per_sec_best']} |\n"
            f"| docs/sec @ local[32] (best) | {p832['hi_docs_per_sec_best']} |\n"
            f"| efficiency local[8]→local[32] (median pair) | {p832['eff_median_pair']} |\n"
        )
    print(json.dumps(report))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    pair_rows = "\n".join(
        f"| pair {i} | {a}s | {b}s | {e} |" for i, (a, b, e) in enumerate(p14["pairs"])
    )
    # rewrite only the headline section; every manually-written '## ' section
    # (SimHash costing, sf1 evidence, replication notes) is preserved
    tail = ""
    try:
        prev = open(f"{REPO}/BENCH/BASELINE.md").read()
        idx = prev.find("\n## ")
        if idx != -1:
            tail = prev[idx:]
    except FileNotFoundError:
        pass
    with open(f"{REPO}/BENCH/BASELINE.md", "w") as f:
        f.write(
            "# BENCH — measured numbers\n\n"
            "North-rule scaling evidence: the extraction job (seeded synthetic\n"
            "Common-Crawl-style pages, Arrow-batched extract UDF, salted hash(url)\n"
            "partitioning) at N vs 4N parallelism on identical input.\n\n"
            "**Methodology**: this sandbox is a shared host with bursty CPU steal\n"
            "(single timings swing 2-3×), so each N/4N pair runs as *interleaved*\n"
            "timed repetitions — one rep at N immediately followed by one at 4N —\n"
            "and efficiency is computed per pair; the median pair is the headline.\n\n"
            f"| metric | value |\n|---|---|\n"
            f"| pages | {n_pages} |\n"
            f"| docs/sec @ local[1] (best) | {report['local1_docs_per_sec']} |\n"
            f"| docs/sec @ local[4] (best) | {report['local4_docs_per_sec']} |\n"
            f"| **efficiency N→4N (local[1]→local[4], median pair)** | **{p14['eff_median_pair']}** |\n"
            f"{rows_832}\n"
            "Target (BASELINE.json): efficiency ≥ 0.8 from N to 4N executors.\n\n"
            "Per-pair detail for the N→4N claim (sec@1, sec@4, efficiency):\n\n"
            "| pair | local[1] | local[4] | eff |\n|---|---|---|---|\n"
            f"{pair_rows}\n\n"
            "Per-partition throughput distribution (64 hash(url) buckets over a\n"
            f"{min(n_pages, 50_000)}-page extraction run, from the lineage table):\n\n"
            f"| docs/bucket min / p50 / max | {dist['min_docs']} / {dist['p50_docs']:.0f} / {dist['max_docs']} |\n"
            f"|---|---|\n"
            f"| bytes/bucket min / p50 / max | {dist['min_bytes']} / {dist['p50_bytes']:.0f} / {dist['max_bytes']} |\n"
            f"| failed rows | {dist['n_failed']} |\n\n"
            "Reading the pairs: **local[1]→local[4] is the honest N→4N pair** on\n"
            "this box. Each Spark local core drives one JVM task thread plus one\n"
            "Python UDF worker, so local[k] consumes ~2k hardware threads — the\n"
            "32-logical-CPU host of round 7 had ~16 physical cores (SMT), so\n"
            "local[8] already saturated it and local[8]→local[32] measured the\n"
            "hardware ceiling, not the engine (a no-Spark multiprocessing probe of\n"
            "the same kernel also got only 2.7× from 8→32 procs); that pair runs\n"
            "only on hosts with at least 32 CPUs. The job itself\n"
            "is embarrassingly parallel — map-side-only extraction over\n"
            "data-defined hash(url) buckets, no driver bottleneck, no hot-path\n"
            "shuffle — which is exactly the property that transfers to N→4N\n"
            "executors on a real cluster, where executors own their cores.\n"
            + tail
        )


if __name__ == "__main__":
    main()
