"""Gate query for the WET/WARC segment source (sources/warc.py).

``warc_wet_roundtrip`` drives the full loop — documents -> deterministic
WET conversion records -> packed segment blobs (one shuffle) -> byte-level
parse kernel -> per-url (n_bytes, sha256) — and the oracle computes what
a LOSSLESS loop must produce straight from the documents table. Any
framing bug, Content-Length miscount, header corruption, or encode/
decode asymmetry changes a digest or flips a status and hash-fails.

The WARC-Date header is built from pure integer arithmetic + lpad in
BOTH engines (never a date library: cross-engine strftime is exactly
the float-sum class of landmine the repo bans) and must survive the
trip verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

_ROUNDTRIP_ORACLE = """
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           '2024-01-01T' || lpad(cast(doc_id % 24 as varchar), 2, '0')
             || ':' || lpad(cast(doc_id % 60 as varchar), 2, '0')
             || ':' || lpad(cast((doc_id * 7) % 60 as varchar), 2, '0')
             || 'Z' as warc_date,
           strlen(text) as n_bytes,
           sha256(text) as digest,
           'ok' as status
    from documents
"""


def _two(col):
    return F.lpad(col.cast("string"), 2, "0")


@op("warc_wet_roundtrip", _ROUNDTRIP_ORACLE)
def warc_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> WET records -> packed segments -> parse kernel ->
    per-url digest; the oracle states what lossless framing must emit."""
    from ocr_application_spark.sources.warc import pack_wet_segments, parse_wet_segments

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    pages = docs.select(
        F.format_string("https://docs.example/%08d", d).alias("url"),
        F.concat_ws(
            "",
            F.lit("2024-01-01T"),
            _two(d % 24),
            F.lit(":"),
            _two(d % 60),
            F.lit(":"),
            _two((d * 7) % 60),
            F.lit("Z"),
        ).alias("warc_date"),
        "text",
    )
    parsed = parse_wet_segments(pack_wet_segments(pages, n_segments=32))
    return parsed.select(
        "url",
        "warc_date",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("digest"),
        "status",
    )


# --- raw response records: the html:binary acquisition path --------------------
# Same discipline one level deeper: documents -> WARC/1.0 RESPONSE
# records whose body is BINARY (the input_hint `html: binary` column,
# bytes the parser may not decode) -> hex-packed segment blobs -> the
# byte-level response kernel -> per-url facts. Every fifth body has
# "\r\n\r\n" + a literal "WARC/1.0" INJECTED INTO ITS BYTES, so the
# parse only survives if both walkers trust the declared
# Content-Lengths and never scan for delimiters. The oracle computes
# the facts (status, content type, byte count, the full body hex) straight
# from documents — it never parses, so builder/parser compensation
# can't hide a framing bug from it on byte counts or the raw bytes; the
# adversarial pytest differential (independent hand-built records)
# covers the parser alone.

_RESP_ORACLE = """
    with src as (
      select doc_id,
             'https://host' || cast(doc_id % 256 as varchar)
               || '.example/doc/' || cast(doc_id as varchar) as url,
             '2024-01-' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0')
               || 'T00:00:00Z' as warc_date,
             case when doc_id % 7 = 0 then 404 else 200 end as http_status,
             case when doc_id % 9 = 0 then 'application/octet-stream'
                  else 'text/html; charset=utf-8' end as content_type,
             encode(substr(text, 1, 120))
               || case when doc_id % 5 = 0
                       then '\\x0D\\x0A\\x0D\\x0A'::BLOB || encode('WARC/1.0')
                       else ''::BLOB end as body
      from documents
    )
    select url, warc_date, http_status, content_type,
           cast(octet_length(body) as bigint) as n_bytes,
           hex(body) as body_hex,
           'ok' as status
    from src
"""


@op("warc_response_roundtrip", _RESP_ORACLE)
def warc_response_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> binary response records -> packed segments -> parse
    kernel -> per-url facts (see section comment)."""
    from ocr_application_spark.sources.warc import (
        pack_warc_segments,
        parse_warc_segments,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    body = F.concat(
        F.encode(F.substring("text", 1, 120), "UTF-8"),
        F.when(
            d % 5 == 0,
            F.concat(
                F.expr("X'0D0A0D0A'"), F.encode(F.lit("WARC/1.0"), "UTF-8")
            ),
        ).otherwise(F.expr("X''")),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://host"),
            (d % 256).cast("string"),
            F.lit(".example/doc/"),
            d.cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("2024-01-"),
            F.lpad((1 + d % 28).cast("string"), 2, "0"),
            F.lit("T00:00:00Z"),
        ).alias("warc_date"),
        F.when(d % 7 == 0, 404).otherwise(200).alias("status"),
        F.when(d % 7 == 0, "Not Found").otherwise("OK").alias("reason"),
        F.when(d % 9 == 0, "application/octet-stream")
        .otherwise("text/html; charset=utf-8")
        .alias("content_type"),
        body.alias("body"),
    )
    parsed = parse_warc_segments(pack_warc_segments(pages, n_segments=32))
    return parsed.select(
        "url",
        "warc_date",
        "http_status",
        "content_type",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.hex(F.col("body")).alias("body_hex"),
        "status",
    )


# --- revisit records: the crawl-side dedup undo ---------------------------------
# Common Crawl stores a payload ONCE and writes ``WARC-Type: revisit``
# for every later capture with the same digest (WARC 1.1 §6.7.2). The
# gate drives the whole loop: every doc becomes a response record; every
# third doc gets a SECOND capture at a later date under a DIFFERENT url
# (the URL-agnostic dedup case) carried as a revisit record whose
# WARC-Payload-Digest is the sha-256 of the original body — except every
# 17th, whose digest is corrupted (hash of body||'X') and must surface
# as 'revisit:unresolved' with NULL payload facts, and every 2nd, which
# omits the advisory WARC-Refers-To headers (the digest alone resolves).
# The oracle rebuilds the logical capture set straight from documents —
# digests never cross the engine boundary (each side's digest join is
# internally consistent, and sha-256 equality == byte equality), so the
# compare pins builder framing, the unified parse kernel, AND the
# as-of digest-join resolution.

_REVISIT_ORACLE = """
    with resp as (
      select doc_id,
             'https://host' || cast(doc_id % 256 as varchar)
               || '.example/doc/' || cast(doc_id as varchar) as url,
             '2024-01-' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0')
               || 'T00:00:00Z' as warc_date,
             substr(text, 1, 120) as body_s
      from documents
    ),
    respd as (
      select url, warc_date, body_s,
             'sha-256:' || sha256(body_s) as digest
      from resp
    ),
    rev as (
      select url || '?ref=feed' as url,
             '2024-02-' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0')
               || 'T00:00:00Z' as warc_date,
             case when doc_id % 17 = 0
                  then 'sha-256:' || sha256(body_s || 'X')
                  else 'sha-256:' || sha256(body_s) end as digest
      from resp where doc_id % 3 = 0
    ),
    cand as (
      select v.url, v.warc_date,
             p.warc_date as p_date, p.url as p_url, p.body_s as p_body,
             row_number() over (partition by v.url, v.warc_date
                                order by p.warc_date desc, p.url desc) as rn
      from rev v join respd p
        on p.digest = v.digest and p.warc_date <= v.warc_date
    )
    select url, warc_date, 'response' as via, 200 as http_status,
           'text/html; charset=utf-8' as content_type,
           cast(octet_length(encode(body_s)) as bigint) as n_bytes,
           hex(encode(body_s)) as body_hex,
           cast(null as varchar) as src_url,
           cast(null as varchar) as src_date
    from respd
    union all
    select v.url, v.warc_date,
           case when c.p_url is null then 'revisit:unresolved'
                else 'revisit' end as via,
           200 as http_status,
           case when c.p_url is null then cast(null as varchar)
                else 'text/html; charset=utf-8' end as content_type,
           cast(octet_length(encode(c.p_body)) as bigint) as n_bytes,
           hex(encode(c.p_body)) as body_hex,
           c.p_url as src_url, c.p_date as src_date
    from rev v left join (select * from cand where rn = 1) c
      on c.url = v.url and c.warc_date = v.warc_date
"""


@op("warc_revisit_resolve", _REVISIT_ORACLE)
def warc_revisit_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> mixed response+revisit segments -> unified parse
    kernel -> as-of digest-join resolution (see section comment)."""
    from ocr_application_spark.sources.warc import (
        pack_record_segments,
        parse_warc_record_segments,
        resolve_revisits,
        warc_response_record_col,
        warc_revisit_record_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://host"), (d % 256).cast("string"),
        F.lit(".example/doc/"), d.cast("string"),
    )
    jan = F.concat(
        F.lit("2024-01-"), F.lpad((1 + d % 28).cast("string"), 2, "0"),
        F.lit("T00:00:00Z"),
    )
    feb = F.concat(
        F.lit("2024-02-"), F.lpad((1 + d % 28).cast("string"), 2, "0"),
        F.lit("T00:00:00Z"),
    )
    body = F.encode(F.substring("text", 1, 120), "UTF-8")
    resp_recs = docs.select(
        url.alias("url"),
        warc_response_record_col(
            url, jan, F.lit(200), F.lit("OK"),
            F.lit("text/html; charset=utf-8"), body,
        ).alias("rec"),
    )
    digest = F.concat(
        F.lit("sha-256:"),
        F.when(
            d % 17 == 0,
            F.sha2(F.concat(body, F.encode(F.lit("X"), "UTF-8")), 256),
        ).otherwise(F.sha2(body, 256)),
    )
    rev_recs = docs.where(d % 3 == 0).select(
        F.concat(url, F.lit("?ref=feed")).alias("url"),
        warc_revisit_record_col(
            F.concat(url, F.lit("?ref=feed")),
            feb,
            digest,
            F.when(d % 2 != 0, url),
            F.when(d % 2 != 0, jan),
            F.lit(200),
            F.lit("OK"),
        ).alias("rec"),
    )
    segs = pack_record_segments(resp_recs.unionByName(rev_recs), n_segments=32)
    out = resolve_revisits(parse_warc_record_segments(segs))
    return out.select(
        "url", "warc_date", "via", "http_status", "content_type",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.hex(F.col("body")).alias("body_hex"),
        "src_url", "src_date",
    )
