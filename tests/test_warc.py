"""WARC source: hermetic round-trip (write_warc → read_warc) incl. the
Common-Crawl per-record-gzip-member layout, plus end-to-end: crawl the
engine directly over a WARC-ingested pages table."""

from __future__ import annotations

import datetime as dt

import pytest

from crawl_spark.sources.warc import parse_warc_bytes, read_warc, write_warc


def _records(n=6):
    return [
        {
            "url": f"http://w{i%2}.example/p/{i}",
            "warc_ts": dt.datetime(2026, 1, 2, 3, 4, i),
            "html": (
                b"<html><body><p>doc %d</p>"
                b'<a href="http://w%d.example/p/%d">next</a></body></html>'
                % (i, (i + 1) % n % 2, (i + 1) % n)
            ),
        }
        for i in range(n)
    ]


def test_parse_roundtrip_plain(tmp_path):
    p = str(tmp_path / "seg.warc")
    write_warc(p, _records())
    got = parse_warc_bytes(open(p, "rb").read())
    assert [g["url"] for g in got] == [r["url"] for r in _records()]
    assert got[0]["html"] == _records()[0]["html"]  # payload byte-exact
    assert got[3]["warc_ts"] == dt.datetime(2026, 1, 2, 3, 4, 3)


def test_parse_roundtrip_gzip_members(tmp_path):
    p = str(tmp_path / "seg.warc.gz")
    write_warc(p, _records(), compress=True)  # one gzip member per record
    got = parse_warc_bytes(open(p, "rb").read())
    assert len(got) == 6
    assert got[5]["html"].startswith(b"<html>")


def test_non_response_records_skipped(tmp_path):
    raw = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    ) + open(write_warc(str(tmp_path / "a.warc"), _records(2)), "rb").read()
    got = parse_warc_bytes(raw)
    assert len(got) == 2


def test_read_warc_spark(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    write_warc(str(d / "seg-0.warc.gz"), _records()[:3], compress=True)
    write_warc(str(d / "seg-1.warc"), _records()[3:])
    pages = read_warc(spark, str(d))
    got = pages.toPandas().sort_values("url").reset_index(drop=True)
    assert len(got) == 6
    assert set(got.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert bytes(got.html[0]).startswith(b"<html>")


def test_crawl_over_warc_pages(spark, tmp_path, tmp_path_factory):
    """The engine consumes a WARC-ingested table directly: seeds resolve,
    links from WARC html schedule the next round."""
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    d = tmp_path / "warcs"
    d.mkdir()
    write_warc(str(d / "seg.warc.gz"), _records(), compress=True)
    pages = read_warc(spark, str(d))
    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="p", link_selector="a"))
    eng = CrawlEngine(
        spark, pages, reg,
        config=EngineConfig(
            batch_cap=10, max_rounds=3,
            workdir=str(tmp_path_factory.mktemp("warc_crawl"))),
    )
    res = eng.run([{"url": "http://w0.example/p/0", "callbacks": ["page"]}])
    assert res.total_fetched >= 3  # follows /p/1, /p/2 … through rounds
    assert res.read_transcript(spark)[0] == ["http://w0.example/p/0"]
