"""Real-PDF text-layer kernel + dispatch + job-level lineage tests.

Reference behavior being matched: PDFs are first-class input
(/root/reference/src/batch_doc_vqa/utils/image_processing.py:8-53); payloads
the pipeline can't process must fail loudly into lineage, never silently
"extract" as garbage (record-and-continue, openrouter/inference.py retry
ladder).
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from batch_doc_vqa_spark.functions.html_extract import extract_payload
from batch_doc_vqa_spark.functions.pdf_real import (
    UnsupportedPdf,
    encode_minimal_pdf,
    extract_pdf_text,
    looks_like_pdf,
)


def test_generator_round_trip_multipage():
    pdf = encode_minimal_pdf([["First line", "Second line"], ["Page two"]])
    assert looks_like_pdf(pdf)
    text, spans = extract_pdf_text(pdf)
    assert text == "First line\nSecond line\n\nPage two"
    assert [text[s:e] for s, e, _ in spans] == ["First line", "Second line", "Page two"]
    assert all(lab == "pdf_line" for _, _, lab in spans)


def test_uncompressed_and_escapes():
    lines = ["parens (nested (deep)) ok", "back\\slash", "trailing"]
    pdf = encode_minimal_pdf([lines], compress=False)
    text, _ = extract_pdf_text(pdf)
    assert text == "\n".join(lines)


def test_literal_escape_table_and_octal():
    # hand-built content stream: escapes, octal, hex string, TJ with kerning
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(Kerned) -200 (words) -20 (close)] TJ "
        b"0 -14 Td (tab\\there \\101\\102) Tj "
        b"0 -14 Td <48657821> Tj "
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    text, _ = extract_pdf_text(pdf)
    # -200 kern → space, -20 kern → glued; \t escape; \101\102 octal = AB; hex
    assert text == "Kerned wordsclose\ntab\there AB\nHex!"


def test_flate_stream_decodes():
    body = b"BT (zipped) Tj ET"
    z = zlib.compress(body)
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(z)).encode()
        + b" >>\nstream\n"
        + z
        + b"\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf)[0] == "zipped"


def test_unsupported_paths_fail_loud():
    with pytest.raises(UnsupportedPdf, match="encrypted"):
        extract_pdf_text(encode_minimal_pdf([["x"]], encrypted=True))
    dct = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /DCTDecode /Length 4 >>\nstream\n"
        b"\xff\xd8\xff\xe0\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    with pytest.raises(UnsupportedPdf, match="DCTDecode"):
        extract_pdf_text(dct)
    with pytest.raises(UnsupportedPdf):
        extract_pdf_text(b"%PDF-1.4\nno streams here\n%%EOF\n")


def test_dispatch_never_html_tokenizes_pdf_bytes():
    # a real PDF through the dispatcher → pdf_text, byte-identical to kernel
    pdf = encode_minimal_pdf([["dispatch works"]])
    r = extract_payload(pdf)
    assert r.status == "pdf_text" and r.text == "dispatch works"
    # an unsupported PDF → unsupported_format, NEVER status ok w/ garbage
    r2 = extract_payload(encode_minimal_pdf([["x"]], encrypted=True))
    assert r2.status == "unsupported_format" and r2.text == "" and "encrypted" in r2.error
    # HTML still routes to the HTML extractor
    r3 = extract_payload(b"<html><body><p>" + b"plain words here " * 10 + b"</p></body></html>")
    assert r3.status in ("ok", "ok_recall")


def test_extraction_job_records_unsupported_pdfs_in_lineage(spark, tmp_path):
    """unsupported_format rows are counted failures with urls in lineage."""
    from batch_doc_vqa_spark.plans.extract_job import read_lineage, read_results, run_extraction

    import datetime as dt

    ts = dt.datetime(2025, 3, 1)
    rows = [
        ("https://a.example.org/good.pdf", ts, encode_minimal_pdf([["good pdf text"]]), "", "en"),
        ("https://a.example.org/enc.pdf", ts, encode_minimal_pdf([["x"]], encrypted=True), "", "en"),
        ("https://a.example.org/page.html", ts,
         b"<html><body><p>" + b"many plain words here " * 10 + b"</p></body></html>", "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = str(tmp_path / "job")
    summary = run_extraction(spark, pages, out, num_buckets=2)
    assert summary["n_docs"] == 3 and summary["n_failed"] == 1
    res = {r["url"]: r for r in read_results(spark, out).collect()}
    assert res["https://a.example.org/good.pdf"]["status"] == "pdf_text"
    assert res["https://a.example.org/good.pdf"]["text"] == "good pdf text"
    enc = res["https://a.example.org/enc.pdf"]
    assert enc["status"] == "failed" and enc["text"] is None
    failed_urls = [
        u
        for r in read_lineage(spark, out).collect()
        for u in (r["failure_urls"] or [])
    ]
    assert failed_urls == ["https://a.example.org/enc.pdf"]


def test_pdf_fixture_deterministic_and_branch_coverage(spark):
    from batch_doc_vqa_spark.sources.pdf_fixture import pdf_row, pdfs_df

    assert pdf_row(42, 5) == pdf_row(42, 5)
    assert pdf_row(42, 5)["pdf"] != pdf_row(43, 5)["pdf"]
    df = pdfs_df(spark, 60, seed=42, partitions=3)
    from batch_doc_vqa_spark.functions.udfs import extract_udf

    stat = {
        r["s"]: r["n"]
        for r in df.select(extract_udf(F.col("pdf")).alias("_ex"))
        .groupBy(F.col("_ex.status").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # i%19 (DCT) and i%17 (encrypted) rows are unsupported; rest extract
    assert stat["pdf_text"] > 0 and stat["unsupported_format"] > 0
    assert set(stat) == {"pdf_text", "unsupported_format"}
