"""batch_doc_vqa_spark — a PySpark-native document-understanding engine.

From-scratch reimplementation of the query and data-processing capabilities
of IonMich/batch-doc-vqa (reference snapshot at /root/reference, studied for
behavior only), re-expressed Spark-first:

- ``functions/``  : extraction kernels (HTML boilerplate strip, SPDF XY-cut)
                    and column-expression helpers. The kernels are pure,
                    deterministic functions of input bytes — the same code is
                    the test oracle and the body of the Arrow-batched UDFs.
- ``sources/``    : seeded synthetic page-table generator (Common-Crawl-style
                    ``url, warc_ts, html, text, lang`` rows) and scan helpers.
- ``operators/``  : relational/analytic operators — matching & scoring,
                    dedup (exact/MinHash-LSH/SimHash/Jaccard), similarity
                    search, text statistics, benchmark analytics.
- ``plans/``      : the extraction job (scope filter → salted hash(url)
                    repartition → vectorized extract → validate → results +
                    per-partition lineage, checkpoint/resume via anti-join).
- ``streaming/``  : Structured Streaming variants (windowed event rollups).
"""

from . import _zipimport  # noqa: F401  (installed for its effect)

__version__ = "0.1.0"
