"""WARC (ISO 28500) source — the container format web crawls actually
arrive in (Common Crawl, Heritrix, wget --warc). Two halves:

* ``build_warc`` — serialize (url, date, payload) rows into spec-shaped
  WARC/1.0 ``response`` records (deterministic bytes, \\r\\n framing,
  Content-Length payload delimiting), concatenated per output blob.
* ``parse_warc`` — the reader: binary blobs → one row per record with
  headers, payload, and a per-record ``parse_error`` column (malformed
  records are REPORTED, not silently dropped and not fatal to the
  blob's other records).

Parsing a binary container is genuinely outside native column
functions, so the reader is an Arrow-batched ``mapInPandas`` 1→N
stage (the multimodal plumbing pattern) — narrow, no shuffle; batch
memory is bounded by arrow.maxRecordsPerBatch × max_blob_bytes. At
100 TB each task parses its own WARC blobs exactly where the scan
read them; downstream html→text/chunking stages compose without a
repartition.

The payload is Content-Length-delimited (never scanned for
terminators), so binary payloads containing ``\\r\\n\\r\\n`` or even
``WARC/1.0`` parse correctly — pinned in test_warc; round-trip
(build → parse) identity and a SQL-replayable field oracle
(q_warc_roundtrip) pin the writer against the reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RECORD_SCHEMA = (
    "blob_id long, record_index int, warc_type string, target_uri string, "
    "warc_date string, content_length long, payload binary, "
    "parse_error string"
)

_CRLF = b"\r\n"


def build_warc(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    date_col: str | None = None,
    payload_col: str = "text",
    records_per_blob: int = 100,
) -> DataFrame:
    """(blob_id, warc binary) — spec-shaped WARC/1.0 response records,
    ``records_per_blob`` per blob, grouped deterministically by
    ``id div records_per_blob`` and concatenated in id order.

    The record bytes are assembled with NATIVE concat/encode (no
    Python in the writer): headers, one blank line, the payload, two
    CRLFs. Content-Length counts payload BYTES (encode, not char
    length)."""
    date = (
        F.col(date_col).cast("string")
        if date_col
        else F.lit("2024-01-01T00:00:00Z")
    )
    payload = F.encode(F.coalesce(F.col(payload_col), F.lit("")), "UTF-8")
    record = F.concat(
        F.encode(
            F.concat_ws(
                "\r\n",
                F.lit("WARC/1.0"),
                F.lit("WARC-Type: response"),
                F.concat(F.lit("WARC-Target-URI: "), F.col(url_col)),
                F.concat(F.lit("WARC-Date: "), date),
                F.concat(
                    F.lit("Content-Length: "),
                    F.length(payload).cast("string"),
                ),
            ),
            "UTF-8",
        ),
        F.lit(_CRLF + _CRLF),  # header/payload separator
        payload,
        F.lit(_CRLF + _CRLF),  # record terminator
    )
    return (
        df.select(
            # integer div (floors negatives like the oracle's `//`),
            # never a double division — ids above 2^53 would round
            F.expr(f"CAST({id_col} DIV {records_per_blob} AS BIGINT)")
            .alias("blob_id"),
            F.col(id_col).alias("_id"),
            record.alias("_rec"),
        )
        .groupBy("blob_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "_rec"))
            ).alias("_recs")
        )
        .select(
            "blob_id",
            F.aggregate(
                F.col("_recs"),
                F.lit(b""),
                lambda acc, r: F.concat(acc, r["_rec"]),
            ).alias("warc"),
        )
    )


def _parse_blob(blob_id: int, data: bytes) -> list[tuple]:
    """One blob → record tuples (pure Python, runs inside the Arrow
    batch loop). A malformed record emits a parse_error row and
    recovery continues at the next ``WARC/`` magic."""
    out = []
    pos, idx = 0, 0
    n = len(data)
    while pos < n:
        # skip inter-record padding
        while pos < n and data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            out.append((blob_id, idx, None, None, None, None, None,
                        "truncated header"))
            break
        header_block = data[pos:head_end]
        try:
            lines = header_block.decode("utf-8").split("\r\n")
        except UnicodeDecodeError:
            lines = None
        headers: dict[str, str] = {}
        err = None
        if lines is None or not lines or not lines[0].startswith("WARC/"):
            err = "bad magic"
        else:
            for line in lines[1:]:
                k, sep, v = line.partition(":")
                if not sep:
                    err = f"malformed header line: {line[:40]!r}"
                    break
                headers[k.strip().lower()] = v.strip()
        if err is None and "content-length" not in headers:
            err = "missing Content-Length"
        if err is None:
            try:
                clen = int(headers["content-length"])
                if clen < 0:
                    raise ValueError
            except ValueError:
                err = "bad Content-Length"
        if err is not None:
            out.append((blob_id, idx, None, None, None, None, None, err))
            nxt = data.find(b"WARC/", head_end + 4)
            pos = nxt if nxt >= 0 else n
            idx += 1
            continue
        body_start = head_end + 4
        payload = data[body_start:body_start + clen]
        if len(payload) < clen:
            out.append((blob_id, idx, headers.get("warc-type"),
                        headers.get("warc-target-uri"),
                        headers.get("warc-date"), clen, None,
                        "truncated payload"))
            break
        out.append((
            blob_id, idx, headers.get("warc-type"),
            headers.get("warc-target-uri"), headers.get("warc-date"),
            clen, payload, None,
        ))
        pos = body_start + clen
        idx += 1
    return out


def parse_warc(
    blobs: DataFrame, blob_id_col: str = "blob_id", warc_col: str = "warc"
) -> DataFrame:
    """binary WARC blobs → one row per record (RECORD_SCHEMA), Arrow
    batches, 1→N, narrow."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                bid = -1 if rec.blob_id is None else int(rec.blob_id)
                if rec.warc is None:
                    # a NULL blob is REPORTED, never fatal (the
                    # module's malformed-input contract)
                    rows.append((bid, 0, None, None, None, None, None,
                                 "null blob"))
                    continue
                data = rec.warc if isinstance(rec.warc, bytes) else bytes(rec.warc)
                rows.extend(_parse_blob(bid, data))
            yield pd.DataFrame(
                rows,
                columns=[
                    "blob_id", "record_index", "warc_type", "target_uri",
                    "warc_date", "content_length", "payload", "parse_error",
                ],
            )

    return blobs.select(
        F.col(blob_id_col).alias("blob_id"), F.col(warc_col).alias("warc")
    ).mapInPandas(run, schema=RECORD_SCHEMA)


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_from_warc(records: DataFrame, lang: str = "en") -> DataFrame:
    """Parsed WARC ``response`` records → the crawl pages table
    ``(url, warc_ts, html, text, lang)`` the pipeline ingests — the
    Common-Crawl ingestion boundary (reference analogue: the manual
    markdown corpus drop, ``history/`` per SURVEY §2.1, re-expressed
    as the container crawls actually ship).

    Narrow Arrow-batched 1→1 stage: keeps only well-formed response
    records (``parse_error`` NULL, a target URI present), re-derives
    ``text`` from the payload bytes with the SAME deterministic
    :func:`..functions.html_text.html_to_text` the chunk stage uses —
    so the byte-identity invariant (north rule: identical extracted
    text per url) holds by construction and the chunk stage's
    ``text_matches_crawl`` audit column stays all-true. Composes with
    :func:`parse_warc` without a shuffle; at 100 TB each task turns
    its own WARC blobs into pages exactly where the scan read them.
    Lossless-boundary pin: pipeline(pages) ==
    pipeline(pages_from_warc(parse_warc(build_warc(pages)))) —
    tests/test_warc_pipeline.py."""
    import pandas as pd

    from ..functions.html_text import html_to_text

    resp = records.filter(
        (F.col("warc_type") == "response")
        & F.col("parse_error").isNull()
        & F.col("target_uri").isNotNull()
    )

    def rebuild(batches):
        for pdf in batches:
            payloads = [
                b"" if p is None else (p if isinstance(p, bytes) else bytes(p))
                for p in pdf["payload"]
            ]
            # WARC-Date is ISO-8601 and usually Z-suffixed; parse as
            # UTC then drop the zone so the Arrow column matches the
            # naive TimestampType the pages schema declares.
            # format="mixed" needs pandas >= 2.0; PySpark's pandas-UDF
            # path already refuses pandas < 2.2.0
            # (pyspark.sql.pandas.utils.require_minimum_pandas_version),
            # so every executor that reaches this line has it.
            ts = pd.to_datetime(
                pdf["warc_date"], utc=True, format="mixed"
            ).dt.tz_localize(None)
            yield pd.DataFrame(
                {
                    "url": pdf["target_uri"],
                    "warc_ts": ts,
                    "html": payloads,
                    "text": [html_to_text(p) for p in payloads],
                    "lang": lang,
                }
            )

    return resp.select("target_uri", "warc_date", "payload").mapInPandas(
        rebuild, schema=PAGES_SCHEMA
    )
