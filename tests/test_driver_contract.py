"""Driver-contract invariants: entry() shape, query/oracle key consistency.

The driver's correctness gate compares queries() vs oracle_sql() — a key
present in one map but not the other silently downgrades a query to a weaker
check. Every query has a full oracle EXCEPT the explicitly allowlisted
genuinely-non-SQL-expressible ones (iterative algorithms); adding a query
without an oracle fails this test unless it is consciously allowlisted."""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__ as entrymod

# consciously rows-only: no closed-form SQL exists. Keep this list SHORT and
# justified — every entry here is a weaker driver check. EMPTY since round 6:
# even the k-means-trained quantizer paths are value-oracled now (the trained
# MODEL is a deterministic kernel output, embedded as VALUES — the
# bootstrap_median_ci precedent).
NO_ORACLE_ALLOWED: set[str] = set()


def test_queries_and_oracles_cover_each_other():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs, f"oracles without queries: {sorted(os_ - qs)}"
    missing = qs - os_
    assert missing <= NO_ORACLE_ALLOWED, f"queries missing oracles: {sorted(missing - NO_ORACLE_ALLOWED)}"
    assert not (NO_ORACLE_ALLOWED & os_), "allowlisted query grew an oracle — drop it from the list"
    assert len(qs) >= 62


def test_oracle_text_independent_of_hash_seed():
    """The driver fingerprints every oracle string, so oracle_sql() must be a
    pure function of the source: no set() iteration order may leak into it
    (the ta item-set fixture once did, via PYTHONHASHSEED)."""
    probe = (
        "import hashlib, json, __spark_entry__ as e; "
        "print(hashlib.sha256(json.dumps(e.oracle_sql(), sort_keys=True).encode()).hexdigest())"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    digests = {
        subprocess.run(
            [sys.executable, "-c", probe],
            cwd=repo,
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        for seed in ("1", "2")
    }
    assert len(digests) == 1, digests


def test_entry_returns_flagship_frame(spark):
    df = entrymod.entry(spark)
    assert [f.name for f in df.schema.fields] == ["url", "lang", "status", "n_chars", "n_spans"]
    rows = df.collect()
    assert len(rows) == 500
    assert {r["status"] for r in rows} <= {"ok", "ok_recall", "pdf", "empty", "error"}
    assert all(r["n_chars"] >= 0 for r in rows)
