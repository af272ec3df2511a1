"""WET/WARC-style segment source: serialize, pack, and parse
Common-Crawl conversion records as first-class DataFrame stages.

Common Crawl ships extracted text as WET files — concatenated
``WARC/1.0`` conversion records with ``Content-Length``-framed payloads
— and a 100 TB ingestion pipeline must parse that framing itself (the
format is byte-level, not splittable by newline). This module gives the
engine both directions:

* ``wet_record_col`` / ``pack_wet_segments``: build byte-exact WET
  segment blobs from a pages DataFrame with pure JVM expressions (one
  ``groupBy(seg)`` shuffle; records sorted by url inside a segment so
  packing is deterministic). Binary (response/revisit) records pack
  through the one hex-join packer ``pack_record_segments``.
* ``parse_wet_segments`` and the two WARC twins: Arrow-batched
  ``mapInPandas`` kernels over the segment payload bytes, all one batch
  loop (``_parse_kernel``) around a pure per-segment parser —
  ``parse_wet_bytes``, ``parse_warc_records`` or
  ``parse_warc_response_bytes``. Tests and oracles run the same parsers
  eagerly, the repo's byte-identity pattern (core/extraction_core.py).

Framing is by ``Content-Length`` (bytes of the UTF-8 payload), walked
once for every record kind by ``_warc_blocks``, so payloads containing
``\\r\\n\\r\\n`` or even a literal ``WARC/1.0`` header block round-trip
exactly. The parsers add only their record-level rules. Malformed
input never throws mid-job: a record whose payload is not valid UTF-8
yields one ``malformed:...`` row and parsing continues at the next
record (framing is intact); a segment whose framing itself breaks
(truncation, missing terminator, bad header) yields one
``malformed:...`` row for the remainder and stops — deterministic
either way, quarantine-not-crash like the extraction kernel (SURVEY
SS2.7 error routing).

Scale story: the segment is the unit of parallelism (real WET shards
are ~150 MB — one task each; no shuffle is needed to parse, any
partitioning works because segments are self-contained). The packing
direction holds one segment's records in one aggregation buffer, so
``n_segments`` must keep corpus_bytes/n_segments inside executor
memory — in production ingestion the files arrive pre-segmented and
only the parse direction runs.

Reference analog: the Kafka byte-payload consumer/producer chain
(extraction_service/app/kafka/consumer.py) — opaque framed bytes in,
typed records out — re-expressed as a columnar source.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _ascii_digits(v: str) -> bool:
    """int()-safe length guard: str.isdigit() accepts superscripts and
    Arabic-Indic digits that int() rejects (crash) or accepts (silently
    validating non-ASCII framing) — a Content-Length is ASCII or it is
    malformed."""
    return v.isascii() and v.isdigit()


_VERSION = b"WARC/1.0\r\n"
_HDR_END = b"\r\n\r\n"
_REC_END = b"\r\n\r\n"


def _valid_warc_date(v: str | None) -> bool:
    """WARC-Date is mandatory and ISO-8601 Zulu (WARC 1.0 §5.4; 1.1
    allows fractional seconds). The session runs Spark 4 ANSI mode, so
    an unvalidated garbage date would make ``to_timestamp`` throw and
    crash the whole ingest instead of quarantining one record — validate
    here so downstream timestamp parsing can never see a bad value.
    Fractions are capped at 6 digits (micros), the engine's timestamp
    resolution (see the zone-map TIMESTAMP_MICROS invariant)."""
    if v is None:
        return False
    from datetime import datetime

    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            datetime.strptime(v, fmt)
            return True
        except ValueError:
            continue
    return False

PARSED_SCHEMA = (
    "seg bigint, url string, warc_date string, text string, "
    "n_bytes bigint, status string"
)


def wet_record_col(url: Column, warc_date: Column, text: Column) -> Column:
    """One WET conversion record as a STRING column (byte framing is
    computed on the UTF-8 octet length, so the final segment-level
    ``encode`` preserves every Content-Length)."""
    return F.concat_ws(
        "",
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: "),
        warc_date,
        F.lit("\r\nContent-Length: "),
        F.octet_length(text).cast("string"),
        F.lit("\r\n\r\n"),
        text,
        F.lit("\r\n\r\n"),
    )


def pack_wet_segments(pages: DataFrame, n_segments: int = 64) -> DataFrame:
    """pages(url, warc_date, text) -> (seg, payload binary, n_records).

    One hash shuffle on the segment key; records sort by url inside the
    segment so the blob bytes are a pure function of the input set.
    """
    if n_segments < 1:
        raise ValueError(f"n_segments must be >= 1, got {n_segments}")
    rec = wet_record_col(F.col("url"), F.col("warc_date"), F.col("text"))
    return (
        pages.select(
            F.pmod(F.xxhash64("url"), F.lit(n_segments)).alias("seg"),
            F.col("url"),
            rec.alias("rec"),
        )
        .groupBy("seg")
        .agg(F.array_sort(F.collect_list(F.struct("url", "rec"))).alias("recs"))
        .select(
            "seg",
            F.encode(
                F.array_join(F.transform("recs", lambda r: r["rec"]), ""), "UTF-8"
            ).alias("payload"),
            F.size("recs").cast("int").alias("n_records"),
        )
    )


def _warc_blocks(payload: bytes) -> Iterator[tuple[int, dict | str, bytes | None]]:
    """The one WARC/1.0 framing walk behind both parsers: records framed
    only by their declared ``Content-Length``. Yields ``(pos, headers,
    block)`` for each intact record, ``pos`` being its byte offset. On
    WARC-level damage it yields ``(pos, reason, None)`` once and stops,
    because the framing past that point is gone."""
    pos, n = 0, len(payload)
    while pos < n:
        if not payload.startswith(_VERSION, pos):
            yield pos, "version", None
            return
        hdr_end = payload.find(_HDR_END, pos)
        if hdr_end < 0:
            yield pos, "unterminated-header", None
            return
        headers: dict[str, str] = {}
        for line in payload[pos + len(_VERSION) : hdr_end].split(b"\r\n"):
            name, sep, value = line.partition(b": ")
            if not sep or not name:
                yield pos, "header-line", None
                return
            try:
                headers[name.decode("ascii")] = value.decode("utf-8")
            except UnicodeDecodeError:
                yield pos, "header-encoding", None
                return
        clen_s = headers.get("Content-Length")
        if clen_s is None or not _ascii_digits(clen_s):
            yield pos, "content-length", None
            return
        block_start = hdr_end + len(_HDR_END)
        block_end = block_start + int(clen_s)
        # a slice past the end is short, so this also catches truncation
        if payload[block_end : block_end + len(_REC_END)] != _REC_END:
            yield pos, "framing", None
            return
        yield pos, headers, payload[block_start:block_end]
        pos = block_end + len(_REC_END)


def _columns(schema: str) -> list[str]:
    """Column names of a DDL schema string, in order."""
    return [field.split()[0] for field in schema.split(", ")]


def _parse_kernel(parse, columns: list[str]):
    """The ``mapInPandas`` body shared by every segment parser: each
    ``(seg, payload)`` row of a batch becomes the rows ``parse`` returns
    for its payload, tagged with ``seg``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seg, payload in zip(pdf["seg"].to_numpy(), pdf["payload"].to_numpy()):
                for rec in parse(bytes(payload)):
                    rows.append({"seg": seg, **rec})
            yield pd.DataFrame(rows, columns=columns)

    return kernel


def parse_wet_bytes(payload: bytes) -> list[dict]:
    """Pure byte-level WET parser — the spec the Spark kernel runs.

    Returns one dict per record: ok rows carry (url, warc_date, text,
    n_bytes); malformed rows carry status='malformed:<reason>' and the
    byte offset where parsing stopped, None elsewhere.
    """

    def bad(reason: str, pos: int) -> dict:
        return {
            "url": None,
            "warc_date": None,
            "text": None,
            "n_bytes": None,
            "status": f"malformed:{reason}@{pos}",
        }

    out: list[dict] = []
    for pos, headers, body in _warc_blocks(payload):
        if body is None:
            out.append(bad(headers, pos))
            continue
        try:
            text = body.decode("utf-8")
        except UnicodeDecodeError:
            # framing is intact: quarantine this record, keep parsing
            out.append(bad("payload-encoding", pos))
            continue
        out.append(
            {
                "url": headers.get("WARC-Target-URI"),
                "warc_date": headers.get("WARC-Date"),
                "text": text,
                "n_bytes": len(body),
                "status": "ok",
            }
        )
    return out


def parse_wet_segments(segments: DataFrame) -> DataFrame:
    """(seg, payload binary) -> one row per WET record.

    No shuffle: segments are self-contained, so the kernel parses
    whatever partitioning the scan produced.
    """
    return segments.select("seg", "payload").mapInPandas(
        _parse_kernel(parse_wet_bytes, _columns(PARSED_SCHEMA)), schema=PARSED_SCHEMA
    )


def wet_to_documents(parsed: DataFrame) -> DataFrame:
    """Parsed WET records (``parse_wet_segments`` output) -> the
    input_hint ``documents`` shape, so the curation funnel
    (jobs/curate_job.py) can consume a Common-Crawl-style drop folder
    directly.

    doc_id is xxhash64(url) — deterministic across runs/partitionings
    (the holdout/shard coins downstream are pure functions of it, so a
    re-crawl of the same url lands in the same split); source is the
    url host (what the domain-mixture sampler stratifies on); lang is
    NULL — unknown at ingest, the clean gate infers its own language
    signal from the text. Malformed records are excluded here; the
    caller routes them to quarantine (jobs/curate_job.stage_wet_input
    does, from the same single parse pass).
    """
    ok = parsed.where(F.col("status") == "ok")
    return ok.select(
        F.xxhash64("url").alias("doc_id"),
        "text",
        F.lit(None).cast("string").alias("lang"),
        F.parse_url("url", F.lit("HOST")).alias("source"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


# --- raw WARC response records (html: binary) ---------------------------------
# WET carries extracted TEXT; the raw crawl ships ``WARC-Type: response``
# records whose payload is a full HTTP response — status line, headers,
# then the page BYTES (html, pdf, anything; charset unknown — exactly
# the ``html: binary`` column of the input_hint pages table). Framing
# is two-level: the WARC Content-Length covers the whole HTTP block,
# the HTTP Content-Length covers the body. Both parsers rely ONLY on
# the declared lengths — a body containing "\r\n\r\n" or a literal
# "WARC/1.0" must not derail the walk (the roundtrip query injects
# exactly those bytes).

RESPONSE_SCHEMA = (
    "seg bigint, url string, warc_date string, http_status int, "
    "content_type string, body binary, n_bytes bigint, status string"
)


def warc_response_record_col(
    url: Column,
    warc_date: Column,
    status: Column,
    reason: Column,
    content_type: Column,
    body: Column,
) -> Column:
    """One WARC/1.0 response record as a BINARY column. ``body`` is
    binary and passes through untouched; every Content-Length is an
    octet count of the bytes actually emitted."""
    http_head = F.encode(
        F.concat_ws(
            "",
            F.lit("HTTP/1.1 "),
            status.cast("string"),
            F.lit(" "),
            reason,
            F.lit("\r\nContent-Type: "),
            content_type,
            F.lit("\r\nContent-Length: "),
            F.octet_length(body).cast("string"),
            F.lit("\r\n\r\n"),
        ),
        "UTF-8",
    )
    # the WARC Content-Length covers the HTTP block = head + body
    warc_head = F.encode(
        F.concat_ws(
            "",
            F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
            url,
            F.lit("\r\nWARC-Date: "),
            warc_date,
            F.lit("\r\nContent-Type: application/http; msgtype=response"),
            F.lit("\r\nContent-Length: "),
            (F.octet_length(http_head) + F.octet_length(body)).cast("string"),
            F.lit("\r\n\r\n"),
        ),
        "UTF-8",
    )
    return F.concat(warc_head, http_head, body, F.encode(F.lit("\r\n\r\n"), "UTF-8"))


def pack_warc_segments(pages: DataFrame, n_segments: int = 64) -> DataFrame:
    """pages(url, warc_date, status, reason, content_type, body) ->
    (seg, payload binary, n_records): response records through
    ``pack_record_segments``. A NULL body nulls the whole record, which
    the packer rejects (the caller routes null-body rows to quarantine
    before packing)."""
    rec = warc_response_record_col(
        F.col("url"),
        F.col("warc_date"),
        F.col("status"),
        F.col("reason"),
        F.col("content_type"),
        F.col("body"),
    )
    return pack_record_segments(pages.select("url", rec.alias("rec")), n_segments)


def parse_warc_records(payload: bytes) -> list[dict]:
    """Pure byte-level walker over ``response`` AND ``revisit`` records —
    the spec both Spark kernels run.

    Real crawls (Common Crawl, Heritrix) write a ``WARC-Type: revisit``
    record instead of re-storing a body whose payload digest was already
    captured (WARC 1.1 §6.7.2, profile identical-payload-digest): the
    record keeps the HTTP response head but carries
    ``WARC-Payload-Digest`` (+ optional ``WARC-Refers-To-Target-URI`` /
    ``WARC-Refers-To-Date``) in place of the bytes. A 100-TB ingest that
    ignores them silently loses every deduplicated capture.

    Row shape (one dict per record): ``rec_type`` is 'response' or
    'revisit' (None on walk-level damage). Response rows carry
    (url, warc_date, http_status, content_type, body, n_bytes); revisit
    rows carry (url, warc_date, http_status, content_type,
    payload_digest, refers_to_uri, refers_to_date) with body/n_bytes
    None — the payload lives in the referred-to response and is
    recovered by ``resolve_revisits``. Malformed rows carry
    status='malformed:<reason>@<pos>' tagged with the rec_type whose
    parse failed. WARC-level damage stops the walk (framing is gone);
    record-level damage inside an intact record quarantines that record
    and continues (the WARC Content-Length still bounds it). Other
    record types (request, metadata) skip silently.
    """

    def bad(reason: str, pos: int, rec_type: str | None = None) -> dict:
        return {
            "rec_type": rec_type,
            "url": None,
            "warc_date": None,
            "http_status": None,
            "content_type": None,
            "body": None,
            "n_bytes": None,
            "payload_digest": None,
            "refers_to_uri": None,
            "refers_to_date": None,
            "status": f"malformed:{reason}@{pos}",
        }

    out: list[dict] = []
    for pos, headers, block in _warc_blocks(payload):
        if block is None:
            out.append(bad(headers, pos))
            continue
        rec_type = headers.get("WARC-Type")
        if rec_type not in ("response", "revisit"):
            # an intact record of another type (request, metadata):
            # skip it silently, the framing already consumed it
            continue
        if not _valid_warc_date(headers.get("WARC-Date")):
            # record-level damage with intact framing: quarantine this
            # record and continue (same class as HTTP-level damage) — a
            # hostile date must never reach the Spark-side to_timestamp
            out.append(bad("warc-date", pos, rec_type))
            continue
        # ---- HTTP block: status line + headers + \r\n\r\n + body ----
        http_hdr_end = block.find(_HDR_END)
        if http_hdr_end < 0:
            out.append(bad("http-unterminated", pos, rec_type))
            continue
        lines = block[:http_hdr_end].split(b"\r\n")
        parts = lines[0].split(b" ", 2)
        if (len(parts) < 2 or not parts[0].startswith(b"HTTP/")
                or not _ascii_digits(parts[1].decode("ascii", "replace"))):
            out.append(bad("http-status-line", pos, rec_type))
            continue
        http_status = int(parts[1])
        http_headers: dict[str, str] = {}
        for line in lines[1:]:
            name, sep, value = line.partition(b": ")
            if sep and name:
                try:
                    http_headers[name.decode("ascii").lower()] = value.decode("utf-8")
                except UnicodeDecodeError:
                    pass  # an undecodable HTTP header never hides the body
        body = block[http_hdr_end + len(_HDR_END) :]
        if rec_type == "revisit":
            digest = headers.get("WARC-Payload-Digest")
            if digest is None:
                # a revisit without its digest can never resolve —
                # quarantine it (same intact-framing class)
                out.append(bad("revisit-digest", pos, rec_type))
                continue
            refers_date = headers.get("WARC-Refers-To-Date")
            out.append(
                {
                    "rec_type": "revisit",
                    "url": headers.get("WARC-Target-URI"),
                    "warc_date": headers.get("WARC-Date"),
                    "http_status": http_status,
                    "content_type": http_headers.get("content-type"),
                    "body": None,
                    "n_bytes": None,
                    "payload_digest": digest,
                    "refers_to_uri": headers.get("WARC-Refers-To-Target-URI"),
                    "refers_to_date": (
                        refers_date if _valid_warc_date(refers_date) else None
                    ),
                    "status": "ok",
                }
            )
            continue
        declared = http_headers.get("content-length")
        if (declared is not None and _ascii_digits(declared)
                and int(declared) != len(body)):
            out.append(bad("http-length-mismatch", pos, rec_type))
            continue
        out.append(
            {
                "rec_type": "response",
                "url": headers.get("WARC-Target-URI"),
                "warc_date": headers.get("WARC-Date"),
                "http_status": http_status,
                "content_type": http_headers.get("content-type"),
                "body": body,
                "n_bytes": len(body),
                "payload_digest": None,
                "refers_to_uri": None,
                "refers_to_date": None,
                "status": "ok",
            }
        )
    return out


_RESPONSE_KEYS = (
    "url", "warc_date", "http_status", "content_type", "body", "n_bytes", "status",
)


def parse_warc_response_bytes(payload: bytes) -> list[dict]:
    """Response-only view of ``parse_warc_records`` — byte-identical to
    the pre-revisit parser: revisit rows (ok or quarantined) belong to
    the revisit view, walk-level malformed rows (rec_type None) to both."""
    return [
        {k: rec[k] for k in _RESPONSE_KEYS}
        for rec in parse_warc_records(payload)
        if rec["rec_type"] != "revisit"
    ]


RECORDS_SCHEMA = (
    "seg bigint, rec_type string, url string, warc_date string, "
    "http_status int, content_type string, body binary, n_bytes bigint, "
    "payload_digest string, refers_to_uri string, refers_to_date string, "
    "status string"
)


def warc_revisit_record_col(
    url: Column,
    warc_date: Column,
    payload_digest: Column,
    refers_to_uri: Column,
    refers_to_date: Column,
    status: Column,
    reason: Column,
) -> Column:
    """One WARC/1.0 revisit record (identical-payload-digest profile) as
    a BINARY column: the HTTP response head is kept, the body is NOT —
    ``WARC-Payload-Digest`` points at the capture that has it.
    ``refers_to_uri``/``refers_to_date`` may be NULL (the digest alone
    resolves; the refers-to headers are advisory per WARC 1.1)."""
    http_head = F.encode(
        F.concat_ws(
            "",
            F.lit("HTTP/1.1 "),
            status.cast("string"),
            F.lit(" "),
            reason,
            F.lit("\r\nContent-Length: 0\r\n\r\n"),
        ),
        "UTF-8",
    )
    refers = F.concat_ws(
        "",
        F.when(
            refers_to_uri.isNotNull(),
            F.concat(F.lit("\r\nWARC-Refers-To-Target-URI: "), refers_to_uri),
        ).otherwise(F.lit("")),
        F.when(
            refers_to_date.isNotNull(),
            F.concat(F.lit("\r\nWARC-Refers-To-Date: "), refers_to_date),
        ).otherwise(F.lit("")),
    )
    warc_head = F.encode(
        F.concat_ws(
            "",
            F.lit("WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: "),
            url,
            F.lit("\r\nWARC-Date: "),
            warc_date,
            F.lit(
                "\r\nWARC-Profile: "
                "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
            ),
            F.lit("\r\nWARC-Payload-Digest: "),
            payload_digest,
            refers,
            F.lit("\r\nContent-Type: application/http; msgtype=response"),
            F.lit("\r\nContent-Length: "),
            F.octet_length(http_head).cast("string"),
            F.lit("\r\n\r\n"),
        ),
        "UTF-8",
    )
    return F.concat(warc_head, http_head, F.encode(F.lit("\r\n\r\n"), "UTF-8"))


def pack_record_segments(records: DataFrame, n_segments: int = 64) -> DataFrame:
    """records(url, rec binary) -> (seg, payload binary, n_records):
    the one binary packer, behind ``pack_warc_segments`` and mixed
    response+revisit segments.

    Spark's array_join is string-only, so each record crosses the
    segment aggregation hex-encoded and the joined string un-hexes back
    to bytes (hex(a)||hex(b) unhexes to a||b exactly — unlike base64,
    whose padding breaks under concatenation). One hash shuffle on the
    segment key; records sort by url so the blob is a pure function of
    the input set. A NULL record would be dropped by array_join while
    n_records still counted it, so it fails the job instead."""
    if n_segments < 1:
        raise ValueError(f"n_segments must be >= 1, got {n_segments}")
    rec = F.when(
        F.col("rec").isNotNull(), F.col("rec")
    ).otherwise(
        F.raise_error(F.concat(F.lit("pack_record_segments: NULL record for "), F.col("url")))
    )
    return (
        records.select(
            F.pmod(F.xxhash64("url"), F.lit(n_segments)).alias("seg"),
            F.col("url"),
            F.hex(rec).alias("rech"),
        )
        .groupBy("seg")
        .agg(F.array_sort(F.collect_list(F.struct("url", "rech"))).alias("recs"))
        .select(
            "seg",
            F.unhex(
                F.array_join(F.transform("recs", lambda r: r["rech"]), "")
            ).alias("payload"),
            F.size("recs").cast("int").alias("n_records"),
        )
    )


def parse_warc_record_segments(segments: DataFrame) -> DataFrame:
    """(seg, payload binary) -> one row per response OR revisit record.
    No shuffle: segments are self-contained (same scale shape as
    parse_wet_segments)."""
    return segments.select("seg", "payload").mapInPandas(
        _parse_kernel(parse_warc_records, _columns(RECORDS_SCHEMA)),
        schema=RECORDS_SCHEMA,
    )


def resolve_revisits(parsed: DataFrame, materialize: bool = True) -> DataFrame:
    """Unified parse rows -> logical captures: the crawl-side dedup undo.

    Responses pass through (via='response'). Each revisit resolves to
    the LATEST response whose sha-256 payload digest equals the
    revisit's ``WARC-Payload-Digest`` and whose capture is not in the
    revisit's future (``warc_date <=`` — ISO-8601 Zulu strings compare
    lexicographically, so no timestamp parse is ever needed on the hot
    path); ties beyond date break by url. A digest that matches nothing
    yields via='revisit:unresolved' with NULL payload facts — the
    lossless outcome when a crawler references a capture outside the
    ingested segment set.

    Scale shape: ONE shuffle hash join on the digest key (high
    cardinality — near-unique per distinct payload, no skew class) plus
    one aggregation on the revisit identity; the response side projects
    to (digest, date, url, payload facts) before the join so bodies
    cross the shuffle once. max_by(struct) keeps the as-of argmax
    inside a partial-aggregable JVM aggregate — no window over the
    joined pairs, no second shuffle of candidates.

    ``materialize`` (default True) localCheckpoints the parsed ok-rows
    first: the plan references them three times (response pass-through,
    join pool, revisit side) and would otherwise re-run the parse
    kernel once per reference — the repo's shared-verdict-frame
    discipline (cf. the ingest families). Pass False only when the
    caller already persisted ``parsed``.
    """
    ok = parsed.where(F.col("status") == "ok")
    if materialize:
        ok = ok.localCheckpoint()
    resp = ok.where(F.col("rec_type") == "response").select(
        "url", "warc_date", "http_status", "content_type", "body", "n_bytes",
        F.concat(F.lit("sha-256:"), F.sha2(F.col("body"), 256)).alias("digest"),
    )
    out_cols = [
        "url", "warc_date", "via", "http_status", "content_type",
        "body", "n_bytes", "src_url", "src_date",
    ]
    responses = resp.select(
        "url", "warc_date", F.lit("response").alias("via"),
        "http_status", "content_type", "body", "n_bytes",
        F.lit(None).cast("string").alias("src_url"),
        F.lit(None).cast("string").alias("src_date"),
    )
    rev = ok.where(F.col("rec_type") == "revisit").select(
        F.col("url").alias("r_url"),
        F.col("warc_date").alias("r_date"),
        F.col("http_status").alias("r_status"),
        F.col("payload_digest").alias("digest"),
    )
    pool = resp.select(
        F.col("digest").alias("p_digest"),
        F.col("warc_date").alias("p_date"),
        F.col("url").alias("p_url"),
        F.col("content_type").alias("p_ct"),
        F.col("body").alias("p_body"),
        F.col("n_bytes").alias("p_n_bytes"),
    )
    # the date bound lives IN the join condition: a revisit whose digest
    # matches only future captures must still surface (as unresolved),
    # which a post-join filter on a left join would silently drop
    cand = rev.join(
        pool,
        (F.col("digest") == F.col("p_digest")) & (F.col("p_date") <= F.col("r_date")),
        "left",
    )
    best = F.max(
        F.when(
            F.col("p_date").isNotNull(),
            F.struct("p_date", "p_url", "p_ct", "p_body", "p_n_bytes"),
        )
    ).alias("best")
    resolved = (
        cand.groupBy("r_url", "r_date", "r_status")
        .agg(best)
        .select(
            F.col("r_url").alias("url"),
            F.col("r_date").alias("warc_date"),
            F.when(F.col("best").isNull(), F.lit("revisit:unresolved"))
            .otherwise(F.lit("revisit"))
            .alias("via"),
            F.col("r_status").alias("http_status"),
            F.col("best.p_ct").alias("content_type"),
            F.col("best.p_body").alias("body"),
            F.col("best.p_n_bytes").alias("n_bytes"),
            F.col("best.p_url").alias("src_url"),
            F.col("best.p_date").alias("src_date"),
        )
    )
    return responses.select(out_cols).unionByName(resolved.select(out_cols))


def parse_warc_segments(segments: DataFrame) -> DataFrame:
    """(seg, payload binary) -> one row per WARC response record.
    No shuffle: segments are self-contained (same scale shape as
    parse_wet_segments)."""
    return segments.select("seg", "payload").mapInPandas(
        _parse_kernel(parse_warc_response_bytes, _columns(RESPONSE_SCHEMA)),
        schema=RESPONSE_SCHEMA,
    )


def warc_to_pages(parsed: DataFrame) -> DataFrame:
    """Parsed response records -> the input_hint pages shape
    (url, warc_ts, html, text, lang), ready for the extraction
    pipeline. Malformed rows are excluded here; route them to
    quarantine from the same parse pass (cf. wet_to_documents)."""
    ok = parsed.where(F.col("status") == "ok")
    # try_to_timestamp: the parser already quarantines invalid WARC-Dates
    # (_valid_warc_date), but ANSI mode makes a plain to_timestamp a
    # whole-job crash if any other producer feeds this stage — null (and
    # the row survives) beats aborting a 100-TB ingest on one record.
    return ok.select(
        "url",
        F.try_to_timestamp("warc_date").alias("warc_ts"),
        F.col("body").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
