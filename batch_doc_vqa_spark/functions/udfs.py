"""Arrow-batched pandas UDFs wrapping the extraction kernels.

The hot path is *vectorized only*: Spark hands the UDF Arrow record batches
(``spark.sql.execution.arrow.pyspark.enabled``), pandas Series in, pandas
DataFrame out — never row-at-a-time Python UDFs. This is the engine analogue
of the reference's batched ONNX scoring
(/root/reference/tests/cv_row_tables.py:500-506), which stacks a whole batch
of digit images into one model call instead of looping.

The UDF bodies delegate to the pure kernels in ``html_extract``/``pdf_extract``
so the Spark output is byte-identical to the oracle by construction.

Unpickling any of these UDFs imports the package, which on CPython 3.10-3.12
makes the per-task ``importlib.invalidate_caches()`` lazy: without it every
Python task re-read the central directory of each zip archive on the worker's
path (``pyspark.zip`` and the spark-core jar), about 200 ms of CPU a task.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .html_extract import extract_payload

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("label", T.StringType()),
        ]
    )
)

EXTRACT_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def extract_frame(html: pd.Series) -> pd.DataFrame:
    """binary html/SPDF payloads → frame of (text, spans, status, error)."""
    texts, spans, status, errors = [], [], [], []
    for payload in html:
        r = extract_payload(payload)
        texts.append(r.text)
        spans.append([{"start": s, "end": e, "label": lab} for s, e, lab in r.spans])
        status.append(r.status)
        errors.append(r.error)
    return pd.DataFrame({"text": texts, "spans": spans, "status": status, "error": errors})


extract_udf = F.pandas_udf(extract_frame, EXTRACT_TYPE)


def host_of(url_col):
    """Column expr: url → lowercased host, ``user[:pass]@`` and port stripped."""
    authority = F.lower(F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    return F.regexp_replace(F.regexp_replace(authority, r"^.*@", ""), r":\d+$", "")


BLOCK_ROW_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("block_idx", T.IntegerType()),
            T.StructField("bbox", T.ArrayType(T.DoubleType())),
            T.StructField("block_text", T.StringType()),
        ]
    )
)


@F.pandas_udf(BLOCK_ROW_TYPE)
def split_blocks_udf(payload: pd.Series) -> pd.Series:
    """SPDF payload → array of per-block rows (reading order).

    The document→page fan-out shape of the reference's ``pdf_to_imgs``
    (/root/reference/src/batch_doc_vqa/utils/image_processing.py:8-53): one
    binary document becomes N ordered rows via posexplode of this array.
    Non-SPDF payloads yield an empty array.
    """
    from .pdf_extract import split_blocks

    return pd.Series([split_blocks(p) for p in payload])


def split_pages(df, url_col: str = "url", bin_col: str = "html"):
    """Fan out binary layout docs to per-block rows (S5 posexplode shape)."""
    return df.select(
        F.col(url_col),
        F.posexplode(split_blocks_udf(F.col(bin_col))).alias("pos", "block"),
    ).select(
        url_col,
        "pos",
        F.col("block.block_idx").alias("block_idx"),
        F.col("block.bbox").alias("bbox"),
        F.col("block.block_text").alias("block_text"),
    )
