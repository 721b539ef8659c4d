"""sf1 (~500k pages) scale evidence: extraction + dedup tier + 1→4 pairs.

Round-2 measured 0.94 N→4N efficiency and ±10% bucket balance at 40k pages;
this run shows both hold an order of magnitude up, and exercises the honest
production composition at that size: extract 500k pages → MinHash+LSH near-dup
candidates → cluster resolution over the *extracted text*.

Appends/replaces an "## sf1" section in BENCH/BASELINE.md (the base file is
owned by scripts/scaling_bench.py).

Usage: python scripts/sf1_bench.py [n_pages] [pair_reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from scaling_bench import paired_efficiency  # noqa: E402

_SF1_WORKER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from batch_doc_vqa_spark.operators import dedup
from batch_doc_vqa_spark.plans import read_lineage, read_results, run_extraction
from batch_doc_vqa_spark.session import default_cpus, get_spark
from batch_doc_vqa_spark.sources.pages import pages_df

n = int(sys.argv[1])
spark = get_spark("sf1")
out = tempfile.mkdtemp(prefix="sf1_bench_")
try:
    t0 = time.perf_counter()
    summary = run_extraction(
        spark, pages_df(spark, n, seed=42, partitions=2 * default_cpus()), out,
        run_id="sf1", num_buckets=256,
    )
    t_extract = time.perf_counter() - t0
    lin = read_lineage(spark, out)
    dist = lin.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("n_docs").alias("min_docs"),
        F.expr("percentile(n_docs, 0.5)").alias("p50_docs"),
        F.max("n_docs").alias("max_docs"),
        F.min("n_bytes").alias("min_bytes"),
        F.expr("percentile(n_bytes, 0.5)").alias("p50_bytes"),
        F.max("n_bytes").alias("max_bytes"),
        F.sum("n_failed").alias("n_failed"),
    ).collect()[0].asDict()

    # dedup tier over the EXTRACTED text (the production composition):
    # near-dup candidates via banded MinHash LSH, then cluster resolution.
    # The synthetic corpus is all-unique, so plant a deterministic ~1 pct
    # duplicate sample (re-keyed copies) — the crawl reality LSH exists for.
    base = read_results(spark, out).select(
        F.col("url").alias("doc_id"), F.col("text")
    ).filter(F.col("text").isNotNull())
    dups = base.filter(F.xxhash64("doc_id") %% 100 == 0).select(
        F.concat(F.lit("dup:"), F.col("doc_id")).alias("doc_id"), F.col("text")
    )
    docs = base.unionByName(dups).localCheckpoint(eager=True)
    n_planted = dups.count()
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, max_bucket=2000
    ).filter(F.col("est_jaccard") >= 0.5)
    n_pairs = pairs.count()
    t_pairs = time.perf_counter() - t0
    t0 = time.perf_counter()
    resolved = dedup.resolve_clusters(docs.select("doc_id"), pairs, id_col="doc_id")
    n_dupes = resolved.filter(F.col("id") != F.col("cluster_id")).count()
    t_resolve = time.perf_counter() - t0
    print(json.dumps({
        "n_pages": n, "cpus": default_cpus(), "extract_sec": round(t_extract, 1),
        "extract_docs_per_sec": round(n / t_extract, 1),
        "n_failed": summary["n_failed"], "lineage": dist,
        "lsh_pairs_sec": round(t_pairs, 1), "n_candidate_pairs": n_pairs,
        "resolve_sec": round(t_resolve, 1), "n_non_canonical": n_dupes,
        "n_planted": n_planted,
    }))
finally:
    shutil.rmtree(out, ignore_errors=True)
"""


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    code = _SF1_WORKER % {"repo": REPO}
    run = subprocess.run(
        [sys.executable, "-c", code, str(n_pages)],
        capture_output=True, text=True, check=True,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="24g"),
    )
    stats = json.loads(run.stdout.strip().splitlines()[-1])
    p14 = paired_efficiency(1, 4, n_pages, reps=reps)
    report = {**stats, "efficiency_1_to_4_median_pair": p14["eff_median_pair"],
              "efficiency_1_to_4_pairs": p14["pairs"],
              "local1_docs_per_sec": p14["lo_docs_per_sec_best"],
              "local4_docs_per_sec": p14["hi_docs_per_sec_best"]}
    print(json.dumps(report))

    d = stats["lineage"]
    pair_rows = "\n".join(
        f"| pair {i} | {a}s | {b}s | {e} |" for i, (a, b, e) in enumerate(p14["pairs"])
    )
    section = (
        "\n## sf1 (~500k pages): does it hold an order of magnitude up?\n\n"
        f"One full extraction run (local[{stats['cpus']}], 256 hash(url) buckets) + the\n"
        f"production dedup composition over the *extracted text*, plus the\n"
        f"interleaved local[1]→local[4] pair suite on the same 500k input.\n\n"
        "| metric | value |\n|---|---|\n"
        f"| pages | {stats['n_pages']} |\n"
        f"| extraction (local[{stats['cpus']}]) | {stats['extract_sec']}s — {stats['extract_docs_per_sec']} docs/s |\n"
        f"| failed rows | {stats['n_failed']} |\n"
        f"| docs/bucket min / p50 / max (256 buckets) | {d['min_docs']} / {d['p50_docs']:.0f} / {d['max_docs']} |\n"
        f"| bytes/bucket min / p50 / max | {d['min_bytes']} / {d['p50_bytes']:.0f} / {d['max_bytes']} |\n"
        f"| planted duplicates (re-keyed 1-pct sample) | {stats['n_planted']} |\n"
        f"| MinHash+LSH candidates (max_bucket=2000) | {stats['n_candidate_pairs']} pairs in {stats['lsh_pairs_sec']}s — recall {round(stats['n_candidate_pairs']/max(stats['n_planted'],1), 4)} |\n"
        f"| cluster resolution (pointer jumping) | {stats['n_non_canonical']} non-canonical ids in {stats['resolve_sec']}s |\n"
        f"| docs/sec @ local[1] (best) | {report['local1_docs_per_sec']} |\n"
        f"| docs/sec @ local[4] (best) | {report['local4_docs_per_sec']} |\n"
        f"| **efficiency 1→4 (median pair)** | **{p14['eff_median_pair']}** |\n\n"
        "Per-pair detail (sec@1, sec@4, efficiency):\n\n"
        "| pair | local[1] | local[4] | eff |\n|---|---|---|---|\n"
        f"{pair_rows}\n"
    )
    path = f"{REPO}/BENCH/BASELINE.md"
    base = open(path).read() if os.path.exists(path) else "# BENCH — measured numbers\n"
    # replace ONLY the existing sf1 section: cut from its header to the
    # NEXT section header, keeping everything after (truncating to EOF
    # destroyed every later section — round-5 incident)
    cut = base.find("\n## sf1")
    if cut >= 0:
        nxt = base.find("\n## ", cut + 1)
        tail = base[nxt:] if nxt >= 0 else ""
        base = base[:cut] + "\n" + section.strip("\n") + "\n" + tail
        with open(path, "w") as f:
            f.write(base)
    else:
        with open(path, "w") as f:
            f.write(base.rstrip("\n") + "\n" + section)


if __name__ == "__main__":
    main()
