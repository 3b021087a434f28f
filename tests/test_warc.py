"""WARC kernel round-trips and tolerant-reader cases
(ferenda_spark/warcrec.py) + operator plumbing."""

from pyspark.sql import functions as F

from ferenda_spark.warcrec import (build_record, build_response,
                                   parse_warc)


def test_response_roundtrip_and_http_unwrap():
    blob = build_response("https://a.example/x", "2026-01-02T03:04:05Z",
                          b"<html>hi</html>")
    recs = parse_warc(blob)
    assert len(recs) == 1
    r = recs[0]
    assert r["offset"] == 0
    assert r["rec_type"] == "response"
    assert r["url"] == "https://a.example/x"
    assert r["warc_date"] == "2026-01-02T03:04:05Z"
    assert r["warc_content_type"] == "application/http; msgtype=response"
    assert r["http_status"] == 200
    assert r["mime"] == "text/html"
    assert r["payload"] == b"<html>hi</html>"


def test_non_http_block_passes_through_verbatim():
    blob = build_record("metadata", "https://a.example/x",
                        "2026-01-02T03:04:05Z", b"via: crawler\r\n",
                        "application/warc-fields")
    [r] = parse_warc(blob)
    assert r["http_status"] is None and r["mime"] is None
    assert r["payload"] == b"via: crawler\r\n"
    assert r["warc_content_type"] == "application/warc-fields"


def test_concatenation_offsets_and_payload_magic_immunity():
    # the first payload CONTAINS the record magic — Content-Length
    # slicing must carry the scan past it untricked
    a = build_response("https://a.example/1", "2026-01-01T00:00:00Z",
                       b"see WARC/1.0 spec for details")
    b = build_response("https://a.example/2", "2026-01-01T00:00:01Z",
                       b"x", status=404)
    recs = parse_warc(a + b)
    assert [r["url"] for r in recs] == ["https://a.example/1",
                                       "https://a.example/2"]
    assert recs[1]["offset"] == len(a)
    assert recs[1]["http_status"] == 404


def test_malformed_record_skipped_with_resync():
    good = build_response("https://a.example/ok", "2026-01-01T00:00:00Z",
                          b"fine")
    bad = b"WARC/1.0\r\nWARC-Type: response\r\nno-length-here\r\n\r\n"
    recs = parse_warc(bad + good)
    assert [r["url"] for r in recs] == ["https://a.example/ok"]


def test_header_names_case_insensitive():
    blob = (b"WARC/1.0\r\nwarc-type: response\r\n"
            b"WARC-TARGET-URI: https://a.example/c\r\n"
            b"warc-date: 2026-01-01T00:00:00Z\r\n"
            b"content-length: 2\r\n\r\nok\r\n\r\n")
    [r] = parse_warc(blob)
    assert (r["rec_type"], r["url"], r["payload"]) == \
        ("response", "https://a.example/c", b"ok")


def test_operator_fans_blobs_into_record_rows(spark):
    from ferenda_spark.operators.warc import warc_records
    blob = (build_response("https://a.example/1",
                           "2026-01-01T00:00:00Z", b"one") +
            build_record("metadata", None, "2026-01-01T00:00:00Z",
                         b"m", "application/warc-fields"))
    df = spark.createDataFrame([(7, bytearray(blob))],
                               "blob_id long, warc binary")
    rows = sorted((r["blob_id"], r["offset"], r["rec_type"], r["url"],
                   bytes(r["payload"]))
                  for r in warc_records(df).collect())
    assert rows[0] == (7, 0, "response", "https://a.example/1", b"one")
    assert rows[1][2:] == ("metadata", None, b"m")
    assert rows[1][1] > 0


def test_surt_key_and_cdx_order(spark):
    from ferenda_spark.operators.warc import cdx_index, surt_col
    df = spark.createDataFrame(
        [("https://WWW.Site.Example/A?b=1",),
         ("https://example.org",),
         ("https://a.b.c.example.org:80/x",)], "url string")
    got = [r[0] for r in df.select(surt_col(F.col("url"))).collect()]
    assert got == ["example,site)/a?b=1",
                   "org,example)/",
                   "org,example,c,b,a)/x"]
    recs = spark.createDataFrame(
        [(1, 0, "2026-01-02T00:00:00Z", "https://b.example/x",
          "text/html", 200),
         (1, 9, "2026-01-01T00:00:00Z", "https://b.example/x",
          "text/html", 200),
         (2, 0, "2026-01-01T00:00:00Z", "https://a.example/y",
          None, None),
         (2, 5, None, None, None, None)],   # url-less row dropped
        "blob_id long, offset long, warc_date string, url string, "
        "mime string, http_status int")
    rows = [(r["surt"], r["warc_date"])
            for r in cdx_index(recs).collect()]
    # global (surt, warc_date) order; two captures of one URL adjacent
    assert rows == [("example,a)/y", "2026-01-01T00:00:00Z"),
                    ("example,b)/x", "2026-01-01T00:00:00Z"),
                    ("example,b)/x", "2026-01-02T00:00:00Z")]


def test_latest_captures_picks_newest_with_stable_ties(spark):
    from ferenda_spark.operators.warc import latest_captures
    idx = spark.createDataFrame(
        [("example,a)/x", "2026-01-01T00:00:00Z", "u", None, None, 1, 0),
         ("example,a)/x", "2026-02-01T00:00:00Z", "u", None, None, 1, 9),
         ("example,a)/x", "2026-02-01T00:00:00Z", "u", None, None, 2, 3),
         ("example,b)/y", "2026-01-01T00:00:00Z", "v", None, None, 1, 5)],
        "surt string, warc_date string, url string, mime string, "
        "http_status int, blob_id long, offset long")
    got = {(r["surt"]): (r["warc_date"], r["blob_id"], r["offset"])
           for r in latest_captures(idx, k=1).collect()}
    # newest date wins; date tie → highest (blob_id, offset)
    assert got == {"example,a)/x": ("2026-02-01T00:00:00Z", 2, 3),
                   "example,b)/y": ("2026-01-01T00:00:00Z", 1, 5)}
    two = latest_captures(idx, k=2)
    assert two.where(two["surt"] == "example,a)/x").count() == 2


def test_revisit_stats_digest_semantics(spark):
    from ferenda_spark.operators.warc import revisit_stats
    rows = [
        ("u", "2026-01-01T00:00:00Z", "response", 1, 0, bytearray(b"A")),
        ("u", "2026-02-01T00:00:00Z", "response", 2, 0, bytearray(b"A")),  # revisit
        ("u", "2026-03-01T00:00:00Z", "response", 3, 0, bytearray(b"B")),  # changed
        ("u", "2026-04-01T00:00:00Z", "response", 4, 0, bytearray(b"A")),  # changed BACK (not a revisit: lag is B)
        ("v", "2026-01-01T00:00:00Z", "metadata", 5, 0, bytearray(b"x")),  # non-response dropped
        ("v", "2026-01-02T00:00:00Z", "response", 6, 0, bytearray(b"C")),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_date string, rec_type string, "
              "blob_id long, offset long, payload binary")
    got = {r["url"]: (r["n_captures"], r["n_revisits"], r["n_versions"])
           for r in revisit_stats(df).collect()}
    assert got == {"u": (4, 1, 2), "v": (1, 0, 1)}


def test_warc_roundtrip_fuzz():
    """Property: build → parse is the identity for any record list —
    arbitrary payload bytes (incl. CRLFs, WARC magic, HTTP-looking
    prefixes inside non-HTTP blocks), urls, dates and types."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    rec = st.tuples(
        st.sampled_from(["response", "metadata", "request",
                         "warcinfo"]),
        st.one_of(st.none(),
                  st.text(alphabet=st.characters(
                      min_codepoint=33, max_codepoint=126),
                      min_size=1, max_size=40).map(
                      lambda s: "https://e.x/" + s)),
        st.binary(max_size=200),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(rec, min_size=1, max_size=6))
    def run(recs):
        blob = b"".join(
            build_record(t, u, "2026-01-01T00:00:00Z", body,
                         "application/octet-stream")
            for t, u, body in recs)
        got = parse_warc(blob)
        assert [(r["rec_type"], r["url"]) for r in got] == \
            [(t, u) for t, u, _ in recs]
        for r, (_, _, body) in zip(got, recs):
            # non-HTTP blocks pass through verbatim; blocks that
            # HAPPEN to start with b'HTTP/' unwrap per the contract
            if not body.startswith(b"HTTP/"):
                assert r["payload"] == body
    run()


def test_run_pipeline_warc_mode(spark, tmp_path, monkeypatch, capsys):
    """The spark-submit entrypoint accepts a WARC blob lake as its
    input (--warc): records ingest, 200/HTTP responses become the
    pages table, and the full extract→relate→write pipeline runs."""
    import json as _json
    import os as _os
    import sys as _sys

    import pandas as pd
    _sys.path.insert(0, _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "scripts"))
    import run_pipeline
    blob = b"".join(
        build_response(
            "https://example.org/doc/%d" % i, "2026-01-01T00:00:00Z",
            ("<html><head><title>Doc %d</title></head>"
             "<body><h1>Doc %d</h1><p>Body text %d.</p></body></html>"
             % (i, i, i)).encode())
        for i in range(6)) + build_response(
            "https://example.org/gone", "2026-01-01T00:00:00Z",
            b"nope", status=404)
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    pd.DataFrame([(0, blob)], columns=["blob_id", "warc"]).to_parquet(
        str(warc_dir / "b.parquet"))
    out = str(tmp_path / "kg")
    monkeypatch.setattr(_sys, "argv", [
        "run_pipeline.py", "--warc", str(warc_dir), "--out", out])
    run_pipeline.main()
    got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["processed"] == 6          # the 404 never enters
    assert got["triples"] > 0
    # resume: second run skips everything (content-hash anti-join)
    monkeypatch.setattr(_sys, "argv", [
        "run_pipeline.py", "--warc", str(warc_dir), "--out", out])
    run_pipeline.main()
    got2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got2["processed"] == 0 and got2["skipped_fresh"] == 6
