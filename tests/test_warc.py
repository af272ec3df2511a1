"""WET/WARC segment source (sources/warc.py): byte-framing round-trip
on adversarial payloads, malformed-input quarantine semantics, packing
determinism. The gate query's oracle parity runs in test_oracle_parity.
"""

import pandas as pd
import pytest

from ocr_application_spark.sources.warc import (
    pack_wet_segments,
    parse_wet_bytes,
    parse_wet_segments,
)

ADVERSARIAL_TEXTS = [
    "plain words",
    "",  # empty payload: Content-Length 0
    "embedded\r\n\r\nrecord separator",
    "WARC/1.0\r\nWARC-Type: conversion\r\n\r\nfake inner record\r\n\r\n",
    "unicode — naïve café 世界 🚀",
    "Content-Length: 999999",
    "trailing newlines\r\n\r\n\r\n",
    " \t leading ws",
    "a" * 10_000,
]


def _pages(spark, texts):
    rows = [
        (f"https://t.example/{i:04d}", f"2024-01-01T00:00:{i % 60:02d}Z", t)
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "warc_date", "text"]))


def test_roundtrip_identity_on_adversarial_payloads(spark):
    pages = _pages(spark, ADVERSARIAL_TEXTS)
    parsed = parse_wet_segments(pack_wet_segments(pages, n_segments=3))
    got = {r["url"]: r for r in parsed.collect()}
    assert len(got) == len(ADVERSARIAL_TEXTS)
    for i, t in enumerate(ADVERSARIAL_TEXTS):
        r = got[f"https://t.example/{i:04d}"]
        assert r["status"] == "ok"
        assert r["text"] == t
        assert r["n_bytes"] == len(t.encode("utf-8"))
        assert r["warc_date"] == f"2024-01-01T00:00:{i % 60:02d}Z"


def test_packing_is_deterministic(spark):
    pages = _pages(spark, ADVERSARIAL_TEXTS)
    a = {r["seg"]: bytes(r["payload"]) for r in pack_wet_segments(pages, 3).collect()}
    b = {r["seg"]: bytes(r["payload"]) for r in pack_wet_segments(pages, 3).collect()}
    assert a == b
    assert sum(len(v) for v in a.values()) > 0


def _record(url: str, body: bytes) -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
        + url.encode()
        + b"\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "
        + str(len(body)).encode()
        + b"\r\n\r\n"
        + body
        + b"\r\n\r\n"
    )


def test_truncated_segment_quarantines_remainder_keeps_prefix():
    blob = _record("https://a", b"first ok") + _record("https://b", b"second")[:-6]
    out = parse_wet_bytes(blob)
    assert [r["status"] for r in out][0] == "ok"
    assert out[0]["text"] == "first ok"
    assert len(out) == 2 and out[1]["status"].startswith("malformed:framing")


def test_invalid_utf8_payload_quarantines_record_parsing_continues():
    blob = _record("https://a", b"\xff\xfe broken") + _record("https://b", b"fine")
    out = parse_wet_bytes(blob)
    assert out[0]["status"].startswith("malformed:payload-encoding")
    assert out[1] == {
        "url": "https://b",
        "warc_date": "2024-01-01T00:00:00Z",
        "text": "fine",
        "n_bytes": 4,
        "status": "ok",
    }


def test_bad_version_and_header_shapes():
    assert parse_wet_bytes(b"HTTP/1.1 200 OK\r\n\r\n")[0]["status"].startswith(
        "malformed:version"
    )
    assert parse_wet_bytes(b"WARC/1.0\r\nno colon line\r\n\r\nx\r\n\r\n")[0][
        "status"
    ].startswith("malformed:header-line")
    no_len = b"WARC/1.0\r\nWARC-Target-URI: u\r\n\r\nx\r\n\r\n"
    assert parse_wet_bytes(no_len)[0]["status"].startswith("malformed:content-length")
    assert parse_wet_bytes(b"WARC/1.0\r\nWARC-Type: conversion")[0]["status"].startswith(
        "malformed:unterminated-header"
    )


def test_content_length_frames_through_lookalike_bodies():
    """A body that BEGINS with a valid-looking record must not desync
    the parser: framing is length-based, never marker-based."""
    inner = _record("https://inner", b"decoy")
    blob = _record("https://outer", inner) + _record("https://after", b"tail")
    out = parse_wet_bytes(blob)
    assert [r["url"] for r in out] == ["https://outer", "https://after"]
    assert out[0]["text"] == inner.decode("utf-8")


def test_empty_segment_and_empty_roundtrip(spark):
    assert parse_wet_bytes(b"") == []
    pages = spark.createDataFrame([], "url string, warc_date string, text string")
    assert parse_wet_segments(pack_wet_segments(pages, 2)).count() == 0


def test_pack_rejects_bad_segment_count(spark):
    with pytest.raises(ValueError):
        pack_wet_segments(_pages(spark, ["x"]), 0)


def test_wet_stream_matches_batch(spark, tmpdir_scratch):
    """Stream-parsed WET segments == batch-parsed, value level; a
    malformed segment lands in quarantine, not in the output."""
    from ocr_application_spark.streaming.stream import run_wet_stream_to_table

    pages = _pages(spark, ADVERSARIAL_TEXTS)
    segs = pack_wet_segments(pages, n_segments=4)
    inp = tmpdir_scratch + "/segs"
    # repartition: several files so the stream sees multiple batches
    segs.repartition(4).write.parquet(inp)
    # plus one poisoned segment file: truncated framing
    poisoned = spark.createDataFrame(
        [(999, bytearray(b"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: 5\r\n\r\nab"), 1)],
        "seg bigint, payload binary, n_records int",
    )
    poisoned.write.mode("append").parquet(inp)

    q = run_wet_stream_to_table(
        spark, inp, tmpdir_scratch + "/out", tmpdir_scratch + "/ckpt"
    )
    assert q.awaitTermination(120)

    got = spark.read.parquet(tmpdir_scratch + "/out")
    batch = parse_wet_segments(segs).where("status = 'ok'")
    assert got.count() == batch.count()
    a = {(r.url, r.text, r.warc_date) for r in got.collect()}
    b = {(r.url, r.text, r.warc_date) for r in batch.collect()}
    assert a == b
    quar = spark.read.parquet(tmpdir_scratch + "/out_quarantine")
    assert quar.count() == 1
    assert quar.collect()[0]["status"].startswith("malformed:framing")


def test_curate_job_wet_input_mode(spark, tmpdir_scratch):
    """The funnel consumes a WET drop folder end-to-end: stage (one
    parse pass -> documents shape + quarantine), then gate chain."""
    from jobs.curate_job import curate, stage_wet_input

    # stopword/unique-token interleave: enough stopwords for the clean
    # gate's language signal, every n-gram distinct so the Gopher
    # repetition gate (which rightly kills copy-pasted filler) passes
    stops = ("the", "of", "and", "a", "to")
    texts = [
        " ".join(
            t for j in range(20) for t in (stops[j % 5], f"unique{i}word{j}")
        )
        for i in range(40)
    ]
    pages = _pages(spark, texts)
    inp = tmpdir_scratch + "/segs"
    pack_wet_segments(pages, n_segments=4).write.parquet(inp)
    spark.createDataFrame(
        [(999, bytearray(b"garbage not warc"), 1)],
        "seg bigint, payload binary, n_records int",
    ).write.mode("append").parquet(inp)

    staged = tmpdir_scratch + "/staged"
    m = stage_wet_input(spark, inp, staged)
    assert m["records"] == 41 and m["rows_out"] == 40 and m["malformed"] == 1
    assert spark.read.parquet(staged + "/quarantine.parquet").count() == 1

    docs = spark.read.parquet(staged + "/documents.parquet")
    assert docs.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert docs.where("source = 't.example'").count() == 40
    assert docs.select("doc_id").distinct().count() == 40

    curated, metrics = curate(spark, staged, gates=("clean", "repetition"))
    assert metrics[0]["rows_in"] == 40
    assert curated.count() > 0
    assert set(curated.columns) >= {"doc_id", "text", "split", "shard"}


# --- raw WARC response records -------------------------------------------------
from ocr_application_spark.sources.warc import (  # noqa: E402
    pack_warc_segments,
    parse_warc_response_bytes,
    parse_warc_segments,
    warc_to_pages,
)


def _resp_record(url, date, body, *, status=b"200 OK", ctype=b"text/html",
                 http_clen=None, warc_type=b"response", warc_clen=None):
    """Independent hand-rolled builder (never the Spark builder) — the
    differential side of the roundtrip tests."""
    http_clen = str(len(body)).encode() if http_clen is None else http_clen
    http = (b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ctype
            + b"\r\nContent-Length: " + http_clen + b"\r\n\r\n" + body)
    warc_clen = str(len(http)).encode() if warc_clen is None else warc_clen
    return (b"WARC/1.0\r\nWARC-Type: " + warc_type
            + b"\r\nWARC-Target-URI: " + url + b"\r\nWARC-Date: " + date
            + b"\r\nContent-Length: " + warc_clen + b"\r\n\r\n"
            + http + b"\r\n\r\n")


def test_response_length_framing_survives_lookalike_bodies():
    # bodies containing the record delimiter AND the WARC magic: only
    # declared lengths may drive the walk
    evil = b"x\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nHTTP/1.1 200 OK\xff"
    seg = (_resp_record(b"https://a", b"2024-01-01T00:00:00Z", evil)
           + _resp_record(b"https://b", b"2024-01-02T00:00:00Z", b""))
    rows = parse_warc_response_bytes(seg)
    assert [r["status"] for r in rows] == ["ok", "ok"]
    assert rows[0]["body"] == evil and rows[0]["n_bytes"] == len(evil)
    assert rows[1]["body"] == b"" and rows[1]["n_bytes"] == 0


def test_response_non_utf8_body_passes_through_verbatim():
    body = bytes(range(256))  # every byte value, not valid UTF-8
    rows = parse_warc_response_bytes(
        _resp_record(b"https://bin", b"2024-01-01T00:00:00Z", body)
    )
    assert rows[0]["status"] == "ok" and rows[0]["body"] == body


def test_non_response_records_skip_silently():
    seg = (_resp_record(b"https://req", b"2024-01-01T00:00:00Z", b"GET",
                        warc_type=b"request")
           + _resp_record(b"https://a", b"2024-01-01T00:00:00Z", b"hi"))
    rows = parse_warc_response_bytes(seg)
    assert [r["url"] for r in rows] == ["https://a"]


def test_http_length_mismatch_quarantines_record_walk_continues():
    seg = (_resp_record(b"https://bad", b"2024-01-01T00:00:00Z", b"hello",
                        http_clen=b"3")
           + _resp_record(b"https://good", b"2024-01-01T00:00:00Z", b"ok"))
    rows = parse_warc_response_bytes(seg)
    assert rows[0]["status"].startswith("malformed:http-length-mismatch")
    assert rows[1]["status"] == "ok" and rows[1]["url"] == "https://good"


def test_warc_level_damage_stops_walk():
    good = _resp_record(b"https://a", b"2024-01-01T00:00:00Z", b"hi")
    rows = parse_warc_response_bytes(good + b"GARBAGE")
    assert rows[0]["status"] == "ok"
    assert rows[1]["status"].startswith("malformed:version")
    truncated = _resp_record(b"https://t", b"2024-01-01T00:00:00Z", b"hello",
                             warc_clen=b"999")
    rows = parse_warc_response_bytes(truncated)
    assert rows[0]["status"].startswith("malformed:framing")


def test_response_spark_kernel_matches_python_spec(spark, tmpdir_scratch):
    import pandas as pd

    bodies = [bytes(range(256)), b"", b"x\r\n\r\nWARC/1.0", b"<html>\xff</html>"]
    pages = spark.createDataFrame(
        pd.DataFrame(
            [
                (f"https://k.example/{i}", "2024-01-03T00:00:00Z",
                 200, "OK", "text/html", b)
                for i, b in enumerate(bodies)
            ],
            columns=["url", "warc_date", "status", "reason", "content_type", "body"],
        )
    )
    segs = pack_warc_segments(pages, n_segments=2)
    segs.write.mode("overwrite").parquet(f"{tmpdir_scratch}/resp_segs")
    back = spark.read.parquet(f"{tmpdir_scratch}/resp_segs")
    via_spark = {
        r["url"]: (bytes(r["body"]), r["status"], r["http_status"])
        for r in parse_warc_segments(back).collect()
    }
    via_python = {}
    for row in back.collect():
        for rec in parse_warc_response_bytes(bytes(row["payload"])):
            via_python[rec["url"]] = (rec["body"], rec["status"], rec["http_status"])
    assert via_spark == via_python
    assert sorted(via_spark) == [f"https://k.example/{i}" for i in range(4)]
    assert all(s == "ok" for _, s, _ in via_spark.values())
    assert via_spark["https://k.example/0"][0] == bytes(range(256))


def test_hostile_warc_date_quarantines_record_walk_continues(spark):
    # an otherwise-intact record with a garbage WARC-Date must land in
    # quarantine, not crash the ANSI-mode to_timestamp downstream
    seg = (_resp_record(b"https://bad", b"NOT A DATE", b"hello")
           + _resp_record(b"https://nodate", b"2024-13-45T99:00:00Z", b"x")
           + _resp_record(b"https://frac9", b"2024-01-01T00:00:00.123456789Z", b"x")
           + _resp_record(b"https://good", b"2024-01-01T00:00:00.5Z", b"ok"))
    rows = parse_warc_response_bytes(seg)
    assert [r["status"].split("@")[0] for r in rows] == [
        "malformed:warc-date",  # not a date at all
        "malformed:warc-date",  # calendar-invalid
        "malformed:warc-date",  # 9-digit fraction exceeds micros resolution
        "ok",
    ]
    # and the Spark stage parses the surviving fractional-seconds date
    import pandas as pd

    parsed = parse_warc_segments(
        spark.createDataFrame(
            pd.DataFrame([(0, seg)], columns=["seg", "payload"])
        )
    )
    out = warc_to_pages(parsed).collect()
    assert len(out) == 1 and out[0]["warc_ts"] is not None


def test_warc_to_pages_feeds_extraction(spark):
    import pandas as pd

    from ocr_application_spark.pipeline import extract_pages

    html = "<html><head><title>t</title></head><body><p>hello world</p></body></html>"
    pages_in = spark.createDataFrame(
        pd.DataFrame(
            [("https://e.example/1", "2024-01-04T05:06:07Z", 200, "OK",
              "text/html", html.encode())],
            columns=["url", "warc_date", "status", "reason", "content_type", "body"],
        )
    )
    parsed = parse_warc_segments(pack_warc_segments(pages_in, n_segments=1))
    pages = warc_to_pages(parsed)
    row = pages.collect()[0]
    assert row["url"] == "https://e.example/1" and bytes(row["html"]) == html.encode()
    assert row["warc_ts"] is not None
    out = extract_pages(pages).collect()
    assert len(out) == 1 and out[0]["status"] == "success"


# --- revisit records: the crawl-side dedup undo ---------------------------------
import hashlib  # noqa: E402

from ocr_application_spark.sources.warc import (  # noqa: E402
    pack_record_segments,
    parse_warc_record_segments,
    parse_warc_records,
    resolve_revisits,
)


def _sha(b: bytes) -> str:
    return "sha-256:" + hashlib.sha256(b).hexdigest()


def _revisit_record(url, date, digest=None, *, refers_uri=None, refers_date=None,
                    status=b"200 OK"):
    """Independent hand-rolled revisit builder (never the Spark builder)."""
    http = b"HTTP/1.1 " + status + b"\r\nContent-Length: 0\r\n\r\n"
    hdrs = (b"WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: " + url
            + b"\r\nWARC-Date: " + date
            + b"\r\nWARC-Profile: "
            + b"http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")
    if digest is not None:
        hdrs += b"\r\nWARC-Payload-Digest: " + digest
    if refers_uri is not None:
        hdrs += b"\r\nWARC-Refers-To-Target-URI: " + refers_uri
    if refers_date is not None:
        hdrs += b"\r\nWARC-Refers-To-Date: " + refers_date
    return (hdrs + b"\r\nContent-Length: " + str(len(http)).encode()
            + b"\r\n\r\n" + http + b"\r\n\r\n")


def test_revisit_record_parses_and_is_invisible_to_response_view():
    seg = (_resp_record(b"https://a", b"2024-01-01T00:00:00Z", b"hello")
           + _revisit_record(b"https://b", b"2024-02-01T00:00:00Z",
                             _sha(b"hello").encode(),
                             refers_uri=b"https://a",
                             refers_date=b"2024-01-01T00:00:00Z"))
    rows = parse_warc_records(seg)
    assert [r["rec_type"] for r in rows] == ["response", "revisit"]
    rv = rows[1]
    assert rv["status"] == "ok" and rv["payload_digest"] == _sha(b"hello")
    assert rv["refers_to_uri"] == "https://a"
    assert rv["refers_to_date"] == "2024-01-01T00:00:00Z"
    assert rv["body"] is None and rv["n_bytes"] is None
    assert rv["http_status"] == 200
    # byte-identical response view: the revisit row never surfaces there
    resp = parse_warc_response_bytes(seg)
    assert [r["url"] for r in resp] == ["https://a"]


def test_revisit_without_digest_quarantines_walk_continues():
    seg = (_revisit_record(b"https://nodigest", b"2024-02-01T00:00:00Z", None)
           + _resp_record(b"https://a", b"2024-01-01T00:00:00Z", b"hi"))
    rows = parse_warc_records(seg)
    assert rows[0]["status"].startswith("malformed:revisit-digest")
    assert rows[0]["rec_type"] == "revisit"
    assert rows[1]["status"] == "ok" and rows[1]["url"] == "https://a"
    # the quarantined revisit belongs to the revisit view only
    assert [r["url"] for r in parse_warc_response_bytes(seg)] == ["https://a"]


def test_revisit_optional_refers_headers_are_null_not_required():
    rows = parse_warc_records(
        _revisit_record(b"https://r", b"2024-02-01T00:00:00Z", b"sha-256:ff")
    )
    assert rows[0]["status"] == "ok"
    assert rows[0]["refers_to_uri"] is None and rows[0]["refers_to_date"] is None


def test_revisit_bad_refers_date_nulls_field_keeps_record():
    rows = parse_warc_records(
        _revisit_record(b"https://r", b"2024-02-01T00:00:00Z", b"sha-256:ff",
                        refers_date=b"NOT A DATE")
    )
    assert rows[0]["status"] == "ok" and rows[0]["refers_to_date"] is None


def _parsed_df(spark, rows):
    import pandas as pd

    from ocr_application_spark.sources.warc import RECORDS_SCHEMA

    cols = ["seg", "rec_type", "url", "warc_date", "http_status", "content_type",
            "body", "n_bytes", "payload_digest", "refers_to_uri",
            "refers_to_date", "status"]
    base = {c: None for c in cols} | {"seg": 0, "status": "ok"}
    return spark.createDataFrame(
        pd.DataFrame([base | r for r in rows], columns=cols), schema=RECORDS_SCHEMA
    )


def test_resolve_revisits_asof_latest_not_future(spark):
    body = b"same payload"
    dg = _sha(body)
    resp = [
        {"rec_type": "response", "url": f"https://cap{i}", "body": body,
         "n_bytes": len(body), "http_status": 200, "content_type": "text/html",
         "warc_date": f"2024-01-0{i}T00:00:00Z"}
        for i in (1, 2, 4)
    ]
    revs = [
        # between captures 2 and 4: must pick 2, never the future 4
        {"rec_type": "revisit", "url": "https://dup/mid", "http_status": 200,
         "warc_date": "2024-01-03T00:00:00Z", "payload_digest": dg},
        # before every capture: unresolved even though the digest exists
        {"rec_type": "revisit", "url": "https://dup/early", "http_status": 200,
         "warc_date": "2023-12-31T00:00:00Z", "payload_digest": dg},
        # digest that matches nothing
        {"rec_type": "revisit", "url": "https://dup/dangling", "http_status": 200,
         "warc_date": "2024-01-03T00:00:00Z", "payload_digest": _sha(b"other")},
    ]
    out = {r["url"]: r for r in resolve_revisits(_parsed_df(spark, resp + revs)).collect()}
    assert len(out) == 6
    mid = out["https://dup/mid"]
    assert mid["via"] == "revisit" and mid["src_url"] == "https://cap2"
    assert bytes(mid["body"]) == body and mid["n_bytes"] == len(body)
    assert out["https://dup/early"]["via"] == "revisit:unresolved"
    assert out["https://dup/early"]["body"] is None
    assert out["https://dup/dangling"]["via"] == "revisit:unresolved"
    assert all(out[f"https://cap{i}"]["via"] == "response" for i in (1, 2, 4))


def test_resolve_revisits_tie_breaks_by_url(spark):
    body = b"tie"
    resp = [
        {"rec_type": "response", "url": u, "body": body, "n_bytes": len(body),
         "http_status": 200, "content_type": "text/html",
         "warc_date": "2024-01-01T00:00:00Z"}
        for u in ("https://a", "https://z", "https://m")
    ]
    revs = [{"rec_type": "revisit", "url": "https://dup", "http_status": 200,
             "warc_date": "2024-02-01T00:00:00Z", "payload_digest": _sha(body)}]
    out = {r["url"]: r for r in resolve_revisits(_parsed_df(spark, resp + revs)).collect()}
    assert out["https://dup"]["src_url"] == "https://z"


def test_revisit_spark_kernel_matches_python_spec(spark):
    import pandas as pd

    body = "<html>revisit me</html>".encode()
    seg = (_resp_record(b"https://orig", b"2024-01-01T00:00:00Z", body)
           + _revisit_record(b"https://again", b"2024-03-01T00:00:00Z",
                             _sha(body).encode(), refers_uri=b"https://orig")
           + _revisit_record(b"https://broken", b"2024-03-01T00:00:00Z", None))
    expected = parse_warc_records(seg)
    got = (
        parse_warc_record_segments(
            spark.createDataFrame(pd.DataFrame([(0, seg)], columns=["seg", "payload"]))
        )
        .orderBy("url")
        .collect()
    )
    assert len(got) == len(expected) == 3
    exp_sorted = sorted(expected, key=lambda r: (r["url"] is None, r["url"] or ""))
    got_sorted = sorted(got, key=lambda r: (r["url"] is None, r["url"] or ""))
    for g, e in zip(got_sorted, exp_sorted):
        for k in ("rec_type", "url", "warc_date", "http_status", "payload_digest",
                  "refers_to_uri", "status"):
            assert g[k] == e[k], (k, g[k], e[k])


def test_pack_record_segments_rejects_null_record(spark):
    import pandas as pd

    import pytest as _pytest

    df = spark.createDataFrame(
        pd.DataFrame([("https://a", None)], columns=["url", "rec"])
    ).selectExpr("url", "cast(rec as binary) as rec")
    with _pytest.raises(Exception, match="NULL record"):
        pack_record_segments(df, n_segments=1).collect()


def test_pack_warc_segments_rejects_null_body(spark):
    import pandas as pd

    pages = spark.createDataFrame(
        pd.DataFrame(
            [("https://a", "2024-01-01T00:00:00Z", 200, "OK", "text/html", None)],
            columns=["url", "warc_date", "status", "reason", "content_type", "body"],
        )
    ).selectExpr("url", "warc_date", "status", "reason", "content_type",
                 "cast(body as binary) as body")
    with pytest.raises(Exception, match="NULL"):
        pack_warc_segments(pages, n_segments=1).collect()


# --- truncation property: every cut point of a 3-record segment ---------------
import re  # noqa: E402

_WALK_REASONS = ("version", "unterminated-header", "header-line",
                 "header-encoding", "content-length", "framing")
_SEGMENT_RECORDS = {
    "wet": (
        parse_wet_bytes,
        [_record("https://a", b"first"),
         _record("https://b", "z\r\n\r\nWARC/1.0\r\n café".encode()),
         _record("https://c", b"")],
    ),
    "warc": (
        parse_warc_records,
        [_resp_record(b"https://a", b"2024-01-01T00:00:00Z", b"x\r\n\r\nWARC/1.0"),
         _revisit_record(b"https://b", b"2024-02-01T00:00:00Z", _sha(b"h").encode()),
         _resp_record(b"https://c", b"2024-03-01T00:00:00Z", b"")],
    ),
}


@pytest.mark.parametrize("fmt", sorted(_SEGMENT_RECORDS))
def test_every_cut_point_keeps_the_intact_prefix_and_one_malformed_row(fmt):
    """Cutting a segment anywhere inside record i yields the rows of
    records 0..i-1 unchanged, then exactly one walk-level malformed row
    tagged with record i's start offset; a cut on a record boundary
    yields the prefix rows only."""
    parse, records = _SEGMENT_RECORDS[fmt]
    payload = b"".join(records)
    full = parse(payload)
    assert [r["status"] for r in full] == ["ok"] * 3
    starts = [sum(map(len, records[:i])) for i in range(len(records) + 1)]
    for cut in range(len(payload) + 1):
        i = max(j for j, s in enumerate(starts) if s <= cut)
        out = parse(payload[:cut])
        assert out[:i] == full[:i], cut
        if cut == starts[i]:
            assert len(out) == i, cut
            continue
        assert len(out) == i + 1, cut
        m = re.fullmatch(r"malformed:([a-z-]+)@(\d+)", out[i]["status"])
        assert m and m.group(1) in _WALK_REASONS, (cut, out[i]["status"])
        assert int(m.group(2)) == starts[i], cut
        if fmt == "warc":
            assert out[i]["rec_type"] is None, cut
