"""WARC crawl-archive ingestion (SURVEY.md §2.C training-data tier):
the interchange format LLM web corpora actually arrive in (Common
Crawl ships WARC/WAT/WET), built and parsed for real with the stdlib.

The reference pipeline ingests its corpus as one-object-per-file JSON
from S3 (`src/lambda_producer.py:22-27`); a production training-data
pipeline ingests crawl archives instead, so this module adds the
missing source format with the same two-pass shape as the multimodal
codecs: synthesize genuine container bytes from driver-table rows,
then parse them back and value-check every extracted column against
an analytic DuckDB oracle over the original table.

What is REAL here (and unit-tested as such, ISO 28500 / WARC 1.0):
- records are framed by ``Content-Length`` — NEVER by splitting on
  blank lines. Every synthetic payload embeds a ``\\r\\n\\r\\n`` inside
  the HTTP body precisely so a naive blank-line splitter would shear
  every record in half; the parser must honour the declared length.
- the on-disk form is ``.warc.gz`` framing: ONE GZIP MEMBER PER RECORD,
  concatenated — the framing Common Crawl uses so a reader can seek to
  a record and inflate only it. The parser walks members with
  ``zlib.decompressobj`` and ``unused_data`` (stdlib multi-member
  decode), and refuses trailing garbage.
- each archive leads with a ``warcinfo`` record, response records
  carry ``WARC-Type/WARC-Target-URI/WARC-Record-ID/WARC-Date`` headers
  and an inner ``HTTP/1.1`` status line + headers + body block; the
  inner HTTP parse splits on the FIRST blank line only.
- malformed input fails loudly: a bad version line, a missing
  ``Content-Length``, a length that disagrees with the record
  terminator, or gzip trailing garbage each raise ``ValueError``.

Scale posture: every archive query is two passes. ``_archives``
groups documents into archives of at most ``DOCS_PER_ARCHIVE`` each in
one ``applyInPandas`` pass (one shuffle, the unavoidable cost of the
WRITE side's file grouping), and ``multimodal._per_object`` reads them
back in one shuffle-free ``mapInPandas`` pass with a module-level pure
function per archive (``warc_scan_rows``, ``html_extract_rows``,
``outlink_rows``, ``tar_member_rows``). At 100 TB the read path is the
one that matters and it is embarrassingly parallel per archive file,
bytes never shuffling (``tests/test_plans.py`` checks this) — the same
posture as Spark's own binaryFile + per-file decode pattern.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table
from dask_lambda_example_spark.operators.multimodal import _per_object
from dask_lambda_example_spark.registry import query

DOCS_PER_ARCHIVE = 100         # documents per synthetic archive (WARC or tar)
WARC_DATE = "2026-01-01T00:00:00Z"


def _http_block(doc_id: int, text: str, body: bytes | None = None,
                ctype: bytes = b"text/plain; charset=utf-8") -> bytes:
    """The HTTP response block a 'response' WARC record wraps. The
    default body repeats the document text around an embedded CRLF-CRLF
    so that blank-line record splitting (the classic naive-parser bug)
    would corrupt it — only Content-Length framing survives. Callers
    may pass a pre-built ``body`` (the HTML corpus path) instead."""
    if body is None:
        body = (text + "\r\n\r\n" + text).encode("utf-8")
    head = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: " + ctype + b"\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n")
    return head + body


def _record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (b"WARC/1.0\r\n" + head.encode("utf-8")
            + b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
            + block + b"\r\n\r\n")


def _gzip_member(data: bytes) -> bytes:
    """One complete gzip member (header+deflate+crc32+isize), stdlib
    zlib — the per-record framing of .warc.gz."""
    import struct
    import zlib

    co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
    deflated = co.compress(data) + co.flush()
    header = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"  # mtime 0, OS=unknown
    return (header + deflated
            + struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF,
                          len(data) & 0xFFFFFFFF))


def make_warc_gz_bytes(doc_ids: list[int], texts: list[str],
                       html: bool = False) -> bytes:
    """Build a genuine multi-record ``.warc.gz`` archive: a warcinfo
    record then one 'response' record per document, EACH record its own
    gzip member (Common Crawl framing). With ``html=True`` the inner
    HTTP payload is a full deterministic HTML page
    (``make_html_page``) instead of the doubled plain text — the form
    real crawl archives carry."""
    info_block = (b"software: dask-lambda-example-spark\r\n"
                  b"format: WARC File Format 1.0\r\n")
    members = [_gzip_member(_record(
        [("WARC-Type", "warcinfo"), ("WARC-Date", WARC_DATE),
         ("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
         ("Content-Type", "application/warc-fields")], info_block))]
    for doc_id, text in zip(doc_ids, texts):
        if html:
            block = _http_block(doc_id, text,
                                body=make_html_page(doc_id, text),
                                ctype=b"text/html; charset=utf-8")
        else:
            block = _http_block(doc_id, text)
        members.append(_gzip_member(_record(
            [("WARC-Type", "response"), ("WARC-Date", WARC_DATE),
             ("WARC-Record-ID", f"<urn:uuid:{doc_id:032d}>"),
             ("WARC-Target-URI", f"http://example.com/doc/{doc_id}"),
             ("Content-Type", "application/http; msgtype=response")],
            block)))
    return b"".join(members)


def _split_gzip_members(raw: bytes) -> list[bytes]:
    """Inflate a concatenation of gzip members into one plaintext blob
    per member; refuse trailing non-gzip garbage.

    Streaming-chunked on purpose: the naive loop (`decompress(buf)`
    then `buf = d.unused_data`) copies the entire remaining archive
    once PER MEMBER — quadratic in member count, and real archives have
    Common-Crawl-scale member counts (a 20 MB / 50 k-member WARC turns
    into ~500 GB of memcpy; the round-9 unbounded-lang straggler
    measurement hit exactly this). Feeding fixed-size memoryview chunks
    keeps the carry between members bounded by the chunk size, so the
    walk is linear in archive bytes regardless of member count."""
    import zlib

    chunk_size = 1 << 20
    view = memoryview(raw)
    n = len(raw)
    out: list[bytes] = []
    pos = 0        # next unread offset into the archive
    carry = b""    # tail of the previous chunk belonging to the next member
    while carry or pos < n:
        if len(carry) < 2 and pos < n:   # ensure the magic is checkable
            take = min(2 - len(carry), n - pos)
            carry += bytes(view[pos:pos + take])
            pos += take
        if carry[:2] != b"\x1f\x8b":
            raise ValueError("trailing garbage after last gzip member")
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        parts = [d.decompress(carry)]
        while not d.eof:
            if pos >= n:
                raise ValueError("truncated gzip member")
            nxt = min(chunk_size, n - pos)
            parts.append(d.decompress(view[pos:pos + nxt]))
            pos += nxt
        out.append(b"".join(parts))
        carry = d.unused_data
    return out


def parse_warc_gz(raw: bytes) -> list[dict]:
    """REAL WARC parse: walk the gzip members, then frame each record
    by its declared Content-Length (never by blank-line splitting),
    verify the CRLF-CRLF record terminator, and for 'response' records
    parse the inner HTTP block (status line + headers split on the
    FIRST blank line; body is the rest). Returns one dict per record
    with warc_type, headers of note, http_status, and payload bytes."""
    records = []
    for member in _split_gzip_members(raw):
        pos = 0
        while pos < len(member):
            if member[pos:pos + 9] not in (b"WARC/1.0\r", b"WARC/1.1\r"):
                raise ValueError("bad WARC version line")
            hdr_end = member.index(b"\r\n\r\n", pos)
            headers: dict[str, str] = {}
            for line in member[pos:hdr_end].decode("utf-8").split("\r\n")[1:]:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            if "content-length" not in headers:
                raise ValueError("record missing Content-Length")
            ln = int(headers["content-length"])
            block = member[hdr_end + 4:hdr_end + 4 + ln]
            if len(block) != ln:
                raise ValueError("record truncated before Content-Length")
            if member[hdr_end + 4 + ln:hdr_end + 4 + ln + 4] != b"\r\n\r\n":
                raise ValueError("missing record terminator after payload")
            rec = {"warc_type": headers.get("warc-type", ""),
                   "target_uri": headers.get("warc-target-uri"),
                   "record_id": headers.get("warc-record-id", ""),
                   "http_status": None, "payload": None}
            if rec["warc_type"] == "response":
                http_head, _, body = block.partition(b"\r\n\r\n")
                status_line = http_head.split(b"\r\n", 1)[0].decode()
                if not status_line.startswith("HTTP/1.1 "):
                    raise ValueError("response record lacks HTTP status line")
                rec["http_status"] = int(status_line.split(" ")[1])
                rec["payload"] = body
            records.append(rec)
            pos = hdr_end + 4 + ln + 4
    return records


def _archives(docs: DataFrame,
              make: Callable[[list[int], list[str]], bytes],
              col: str, by: tuple[str, ...] = ()) -> DataFrame:
    """``(archive_id long, <col> binary)``: one ``applyInPandas`` pass
    groups the ``(doc_id, text[, by…])`` rows of ``docs`` by ``(*by,
    doc_id div DOCS_PER_ARCHIVE)`` and builds each group's archive with
    ``make(sorted_ids, texts)``. ``archive_id`` is the group's smallest
    ``doc_id``. The ``doc_id`` bucket bounds every archive at
    ``DOCS_PER_ARCHIVE`` documents however a ``by`` key is skewed, so
    the write-side shuffle has no hot group."""
    # Single-parameter signature is REQUIRED: applyInPandas dispatches
    # on arity, and a second (even defaulted) parameter flips it into
    # the (key, pdf) calling convention.
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        ids = [int(i) for i in pdf["doc_id"]]
        return pd.DataFrame({"archive_id": [ids[0]],
                             col: [make(ids, list(pdf["text"]))]})

    return (docs.groupBy(*by, F.expr(f"doc_id div {DOCS_PER_ARCHIVE}"))
                .applyInPandas(build, f"archive_id long, {col} binary"))


def _responses(raw: bytes) -> Iterator[tuple[int, dict]]:
    """(doc_id, record) per 'response' record of one ``.warc.gz``
    archive; the id is the last path segment of the target URI."""
    for rec in parse_warc_gz(raw):
        if rec["warc_type"] == "response":
            yield int(rec["target_uri"].rsplit("/", 1)[1]), rec


def warc_scan_rows(archive_id: int, raw: bytes) -> Iterator[tuple]:
    """(doc_id, uri, http_status, n_payload_bytes, payload_md5) per
    response record of one archive."""
    for doc_id, rec in _responses(raw):
        yield (doc_id, rec["target_uri"], rec["http_status"],
               len(rec["payload"]), hashlib.md5(rec["payload"]).hexdigest())


# Shared read-side contract of BOTH WARC queries (the archive grouping
# key never leaks into the output, so the oracle is grouping-independent
# and one copy serves both @query registrations — review r9).
_WARC_SCAN_ORACLE = """
    SELECT doc_id,
           'http://example.com/doc/' || doc_id                  AS uri,
           200                                                  AS http_status,
           CAST(2 * strlen(text) + 4 AS BIGINT)                 AS n_payload_bytes,
           md5(text || chr(13) || chr(10) || chr(13) || chr(10)
               || text)                                         AS payload_md5
    FROM documents
    """
_WARC_SCAN_SCHEMA = ("doc_id long, uri string, http_status int, "
                     "n_payload_bytes long, payload_md5 string")


@query("src_warc_scan", oracle=_WARC_SCAN_ORACLE)
def src_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-archive ingestion end to end: ``_archives`` groups
    documents into genuine ``.warc.gz`` archives (warcinfo +
    one-gzip-member-per-record framing, Content-Length record framing,
    inner HTTP blocks whose bodies EMBED a blank line — see
    ``make_warc_gz_bytes``); ``warc_scan_rows`` parses every archive
    back with ``parse_warc_gz`` and emits per-document URI, HTTP
    status, payload length and payload MD5, which the oracle recomputes
    from the original ``documents`` rows. A value-hash match proves the
    full gzip-member walk + length-framed record parse + HTTP split
    preserved every byte."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _per_object(_archives(docs, make_warc_gz_bytes, "warc"),
                       warc_scan_rows, _WARC_SCAN_SCHEMA)


@query("src_warc_by_lang_scan", oracle=_WARC_SCAN_ORACLE)
def src_warc_by_lang_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC build/scan with a DATA-DRIVEN archive key — one corpus of
    archives per ``lang``, the way real crawl exports shard by domain
    or language. The naive form (one archive group per ``lang``) is the
    realistic write-side straggler: on the Zipf tier 82 % of all
    documents land in ONE applyInPandas group, i.e. one Python worker
    builds one giant archive while 31 idle (SCALE.md's ingest-skew
    battery measured it). ``_archives(..., by=("lang",))`` keys each
    archive by ``(lang, doc_id div DOCS_PER_ARCHIVE)`` instead, so every
    archive is bounded at ``DOCS_PER_ARCHIVE`` members no matter how hot
    the language — exactly what production archive writers do by
    capping archive size (Common Crawl caps WARC files ~1 GB), and AQE's
    skew handling (which cannot split an applyInPandas group) is never
    needed. The scan side and output schema are identical to
    ``src_warc_scan`` — the oracle is grouping-independent because
    every document lands in exactly one archive."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    return _per_object(
        _archives(docs, make_warc_gz_bytes, "warc", by=("lang",)),
        warc_scan_rows, _WARC_SCAN_SCHEMA)


# ---------------------------------------------------------------------------
# HTML main-text extraction over WARC payloads (VERDICT r9 item 3): the
# step every real crawl-to-corpus pipeline has between archive bytes
# and the text operators — tag walk, boilerplate gate (script/style/
# nav/footer/aside subtrees dropped), entity decode, link census.
# ---------------------------------------------------------------------------


def make_html_page(doc_id: int, text: str) -> bytes:
    """A full deterministic HTML page wrapping one document: head with
    ``<title>`` (the document's first three tokens — the same derived
    title the fuzzy-dedup family uses), ``<script>``/``<style>``
    boilerplate whose junk strings must NEVER survive extraction, a
    ``<nav>`` with three links, the main content (h1 + the text split
    into two paragraphs + ``1 + doc_id % 3`` in-content reference
    links + an entity-encoded tail proving charref decode), an
    ``<img>`` whose alt text must not leak (attributes are not text),
    an HTML comment, and a ``<footer>`` with one more link. Every
    byte is a pure function of (doc_id, text) so the DuckDB oracle can
    state the expected extraction analytically."""
    words = text.split(" ")
    title = " ".join(words[:3])
    mid = (len(words) + 1) // 2
    para1, para2 = " ".join(words[:mid]), " ".join(words[mid:])
    # in-content links target OTHER documents (doc_id ⊕ 2^j — a
    # deterministic neighbor that both engines can restate), so the
    # extracted outlinks form a genuine crawl link graph
    refs = " ".join(
        f'<a href="/doc/{doc_id ^ (1 << j)}">ref-{doc_id}-{j}</a>'
        for j in range(1 + doc_id % 3))
    page = f"""<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="utf-8"/>
  <title>{title}</title>
  <style>.content {{ margin: 0; }} /* style-junk-{doc_id} */</style>
  <script>var junk = "script-junk-{doc_id}";</script>
</head>
<body>
  <nav>
    <a href="/">nav-home</a> <a href="/a">nav-a</a> <a href="/b">nav-b</a>
  </nav>
  <!-- comment-junk-{doc_id} -->
  <div class="content">
    <h1>{title}</h1>
    <p>{para1}</p>
    <p>{para2}</p>
    <img src="/img/{doc_id}.png" alt="alt-junk-{doc_id}"/>
    <p>{refs}</p>
    <p>&amp;sect-{doc_id % 7}&lt;end&gt;</p>
  </div>
  <footer>footer-junk <a href="/about">about</a></footer>
</body>
</html>"""
    return page.encode("utf-8")


class _MainTextExtractor:
    """Streaming main-text extraction over one HTML document with the
    stdlib ``html.parser.HTMLParser``: text nodes outside boilerplate
    subtrees (``script style nav footer header aside noscript
    template``) are collected in document order with character/entity
    references decoded; ``<title>`` is captured separately; every
    ``<a href>`` start tag is counted (nav/footer links included — a
    link census is about the page, not the prose). Boilerplate skip is
    DEPTH-tracked so nested skippable tags can't un-skip early."""

    SKIP_TAGS = frozenset(
        ("script", "style", "nav", "footer", "header", "aside",
         "noscript", "template"))

    def __init__(self) -> None:
        from html.parser import HTMLParser

        outer = self

        class _P(HTMLParser):
            def handle_starttag(self, tag, attrs):
                if tag == "a":
                    hrefs = [v for k, v in attrs if k == "href"]
                    if hrefs:
                        outer.n_links += 1
                        outer.hrefs.append(hrefs[0])
                if tag in outer.SKIP_TAGS:
                    outer._skip_depth += 1
                elif tag == "title":
                    outer._in_title = True

            def handle_endtag(self, tag):
                if tag in outer.SKIP_TAGS and outer._skip_depth:
                    outer._skip_depth -= 1
                elif tag == "title":
                    outer._in_title = False

            def handle_data(self, data):
                if outer._in_title:
                    outer._title_parts.append(data)
                elif not outer._skip_depth:
                    outer._text_parts.append(data)

        self._parser = _P(convert_charrefs=True)
        self._skip_depth = 0
        self._in_title = False
        self._title_parts: list[str] = []
        self._text_parts: list[str] = []
        self.n_links = 0
        self.hrefs: list[str] = []  # every <a href>, document order

    def feed(self, html_text: str) -> None:
        self._parser.feed(html_text)
        self._parser.close()

    @property
    def title(self) -> str:
        return " ".join("".join(self._title_parts).split())

    @property
    def main_text(self) -> str:
        return " ".join("".join(self._text_parts).split())


def extract_main_text(html_bytes: bytes) -> tuple[str, str, int]:
    """(title, main_text, link_count) from one HTML payload."""
    ex = _MainTextExtractor()
    ex.feed(html_bytes.decode("utf-8"))
    return ex.title, ex.main_text, ex.n_links


def _html_warc_archives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-corpus archives both HTML queries read: ``_archives``
    whose HTTP payloads are the deterministic HTML pages."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _archives(
        docs, functools.partial(make_warc_gz_bytes, html=True), "warc")


_HTML_EXTRACT_SCHEMA = ("doc_id long, title string, main_text string, "
                        "link_count int")


def html_extract_rows(archive_id: int, raw: bytes) -> Iterator[tuple]:
    """(doc_id, title, main_text, link_count) per response record of
    one HTML archive: WARC member walk → inner HTTP parse → HTML
    main-text extraction."""
    for doc_id, rec in _responses(raw):
        yield (doc_id, *extract_main_text(rec["payload"]))


# What extraction must recover, stated analytically from the original
# rows: title = first three tokens; main_text = h1 title + the two
# paragraphs (whitespace-collapse rejoins them into the exact original
# text) + the in-content ref anchors + the entity-decoded tail; links =
# 3 nav + (1 + doc_id % 3) in-content + 1 footer.
_HTML_EXTRACT_ORACLE = """
    SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
             AS title,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
             || ' ' || text || ' '
             || CASE doc_id % 3
                  WHEN 0 THEN 'ref-' || doc_id || '-0'
                  WHEN 1 THEN 'ref-' || doc_id || '-0 ref-'
                              || doc_id || '-1'
                  ELSE 'ref-' || doc_id || '-0 ref-' || doc_id
                       || '-1 ref-' || doc_id || '-2'
                END
             || ' &sect-' || (doc_id % 7) || '<end>' AS main_text,
           CAST(5 + doc_id % 3 AS INT) AS link_count
    FROM documents
    """


@query("text_html_extract", oracle=_HTML_EXTRACT_ORACLE)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl → corpus, the missing middle step: build ``.warc.gz``
    archives (``_archives``) whose HTTP payloads are full deterministic
    HTML pages (head/title, script+style+nav+footer boilerplate, two
    content paragraphs, reference links, entity-encoded text, an HTML
    comment — ``make_html_page``), then parse every archive back
    (gzip-member walk + Content-Length framing + inner HTTP split) and
    run REAL streaming HTML extraction (stdlib ``HTMLParser``) per
    page: boilerplate subtrees dropped by tag depth, character/entity
    references decoded, whitespace collapsed, ``<a href>`` tags
    counted. The oracle states the expected (title, main_text,
    link_count) analytically from the original rows, so a value-hash
    match proves the tag walk dropped EXACTLY the boilerplate (one
    leaked ``script-junk``/``nav-home``/``alt-junk`` token or one
    undecoded ``&amp;`` breaks the hash).

    Scale posture: identical to ``src_warc_scan`` — one write-side
    shuffle groups documents into archives, the read side is one
    shuffle-free ``_per_object`` pass (bytes never shuffle, per-file
    parallel at 100 TB). HTML parsing is per-payload Python by design
    (the codec-op exemption: the parse IS the operator); the
    downstream text operators consume ``main_text`` exactly as they
    consume ``documents.text``."""
    return _per_object(_html_warc_archives(spark, sf_dir),
                       html_extract_rows, _HTML_EXTRACT_SCHEMA)


# crawl-funnel gates (pure functions of the extracted columns so the
# oracle can restate them over its own main_text expression)
CRAWL_MIN_TOKENS = 40          # length gate on extracted main text
CRAWL_MAX_LINK_DENSITY = 0.15  # links per main-text token (boilerplate gate)


def _crawl_funnel_oracle() -> str:
    return f"""
    WITH ext AS ({_HTML_EXTRACT_ORACLE}),
    base AS (SELECT doc_id,
                    len(string_split(main_text, ' ')) AS n_tokens,
                    link_count,
                    (main_text <> '') AS p1
             FROM ext),
    gates AS (SELECT n_tokens, p1,
                     p1 AND (link_count * 1.0 / n_tokens)
                        <= {CRAWL_MAX_LINK_DENSITY} AS p2,
                     p1 AND (link_count * 1.0 / n_tokens)
                        <= {CRAWL_MAX_LINK_DENSITY}
                        AND n_tokens >= {CRAWL_MIN_TOKENS} AS p3
              FROM base)
    SELECT '0_fetched' AS stage, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM gates
    UNION ALL SELECT '1_parsed', count(*),
           CAST(sum(n_tokens) AS BIGINT) FROM gates WHERE p1
    UNION ALL SELECT '2_link_density', count(*),
           CAST(sum(n_tokens) AS BIGINT) FROM gates WHERE p2
    UNION ALL SELECT '3_length', count(*),
           CAST(sum(n_tokens) AS BIGINT) FROM gates WHERE p3
    """


@query("pipeline_crawl_funnel", oracle=_crawl_funnel_oracle())
def pipeline_crawl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-side curation funnel — ``pipeline_curation_funnel``'s
    upstream sibling, consuming the HTML extraction instead of the
    clean documents table: archives → parsed pages → link-density
    boilerplate gate (link farms have many links per prose token) →
    minimum-length gate, reported as surviving docs + extracted
    tokens per stage. The stage input is the REGISTERED
    ``text_html_extract`` called as a function, and the oracle nests
    its oracle SQL as a CTE — the composition is value-checked
    end-to-end (the curation-funnel discipline). Gates are
    cumulative-AND projections over the extracted columns: zero extra
    shuffles beyond the extraction itself; the report is an Expand
    (one row per stage gate) into a 4-group aggregate."""
    ext = text_html_extract(spark, sf_dir)
    base = ext.select(
        F.size(F.split(F.col("main_text"), " ")).alias("n_tokens"),
        "link_count",
        (F.col("main_text") != "").alias("p1"))
    gates = base.select(
        "n_tokens", "p1",
        (F.col("p1") & (F.col("link_count") / F.col("n_tokens")
                        <= CRAWL_MAX_LINK_DENSITY)).alias("p2"),
        (F.col("p1") & (F.col("link_count") / F.col("n_tokens")
                        <= CRAWL_MAX_LINK_DENSITY)
         & (F.col("n_tokens") >= CRAWL_MIN_TOKENS)).alias("p3"))
    stages = gates.select(
        "n_tokens",
        F.explode(F.array(
            F.struct(F.lit("0_fetched").alias("stage"),
                     F.lit(True).alias("ok")),
            F.struct(F.lit("1_parsed").alias("stage"),
                     F.col("p1").alias("ok")),
            F.struct(F.lit("2_link_density").alias("stage"),
                     F.col("p2").alias("ok")),
            F.struct(F.lit("3_length").alias("stage"),
                     F.col("p3").alias("ok")),
        )).alias("s"))
    return (stages.filter(F.col("s.ok"))
            .groupBy(F.col("s.stage").alias("stage"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens")))


def outlink_rows(archive_id: int, raw: bytes) -> Iterator[tuple]:
    """(doc_id, href) per ``<a href>`` anchor of one HTML archive, in
    document order."""
    for doc_id, rec in _responses(raw):
        ex = _MainTextExtractor()
        ex.feed(rec["payload"].decode("utf-8"))
        for href in ex.hrefs:
            yield doc_id, href


# per-page link inventory, stated analytically: 3 nav paths, the
# in-content /doc/ neighbors (doc_id ⊕ 2^j for j < 1 + doc_id % 3), one
# footer path — list concat + unnest keeps per-document order
_OUTLINKS_ORACLE = """
    SELECT doc_id, unnest(
        ['/', '/a', '/b']
        || CASE doc_id % 3
             WHEN 0 THEN ['/doc/' || xor(doc_id, 1)]
             WHEN 1 THEN ['/doc/' || xor(doc_id, 1),
                          '/doc/' || xor(doc_id, 2)]
             ELSE ['/doc/' || xor(doc_id, 1), '/doc/' || xor(doc_id, 2),
                   '/doc/' || xor(doc_id, 4)]
           END
        || ['/about']) AS href
    FROM documents
    """


@query("text_html_outlinks", oracle=_OUTLINKS_ORACLE)
def text_html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction over the HTML crawl archives — the link-graph
    half of crawl processing (``text_html_extract`` is the prose half):
    one (doc_id, href) row per ``<a href>`` anchor, nav/footer
    boilerplate links included (a link census is about the page). The
    in-content links target OTHER documents (deterministic ⊕-neighbors
    baked into ``make_html_page``), so the output is a genuine crawl
    link graph; the oracle restates the full per-page inventory
    analytically. Same scale posture as every archive scan: one
    write-side grouping shuffle, one shuffle-free ``_per_object`` read,
    bytes never shuffle."""
    return _per_object(_html_warc_archives(spark, sf_dir), outlink_rows,
                       "doc_id long, href string")


def crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(src, dst)`` per document link of the HTML crawl: the anchors
    of ``text_html_outlinks`` in the ``/doc/`` namespace (boilerplate
    nav/footer paths are not graph edges), target id parsed from the
    href. Targets that were never crawled are kept."""
    return (text_html_outlinks(spark, sf_dir)
            .filter(F.col("href").startswith("/doc/"))
            .select(F.col("doc_id").alias("src"),
                    F.substring_index(F.col("href"), "/", -1)
                     .cast("long").alias("dst")))


_INDEGREE_ORACLE = """
    WITH links AS (
        SELECT xor(doc_id, 1) AS t FROM documents
        UNION ALL SELECT xor(doc_id, 2) FROM documents WHERE doc_id % 3 >= 1
        UNION ALL SELECT xor(doc_id, 4) FROM documents WHERE doc_id % 3 = 2)
    SELECT t AS target_doc, count(*) AS indegree
    FROM links GROUP BY t
    """


@query("graph_crawl_indegree", oracle=_INDEGREE_ORACLE)
def graph_crawl_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link-graph in-degree — the first aggregate every crawl
    pipeline computes over its extracted edges (the input to spam
    heuristics and PageRank seeding). Counts the ``crawl_links`` edges
    (the REGISTERED ``text_html_outlinks`` called as a function,
    ``/doc/`` namespace only, target parsed from the href) in one count
    shuffle keyed by target. The oracle derives the same multiset of targets
    analytically from the ⊕-neighbor construction, so extraction,
    namespace filter, parse and count are value-checked end-to-end.
    Scale: in-degree of a link graph is the textbook skewed
    aggregation — this is a map-side-combinable single shuffle, the
    shape that absorbs hot targets; dangling targets (links to
    never-crawled ids) appear with their in-degree exactly as a real
    link table keeps them."""
    return (crawl_links(spark, sf_dir)
            .groupBy(F.col("dst").alias("target_doc"))
            .agg(F.count("*").alias("indegree")))


def make_tar_bytes(doc_ids: list[int], texts: list[str]) -> bytes:
    """Build a genuine POSIX tar archive (stdlib ``tarfile``) with one
    ``doc_<id>.txt`` member per document. Deterministic metadata
    (mtime 0, uid/gid 0) so the archive bytes are reproducible."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for doc_id, text in zip(doc_ids, texts):
            data = text.encode("utf-8")
            info = tarfile.TarInfo(name=f"doc_{doc_id}.txt")
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


@query(
    "src_tar_archive_scan",
    oracle="""
    SELECT doc_id,
           'doc_' || doc_id || '.txt'        AS member_name,
           CAST(strlen(text) AS BIGINT)      AS n_bytes,
           md5(text)                         AS content_md5
    FROM documents
    """,
)
def src_tar_archive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar-archive ingestion (the other container corpora ship as —
    uncompressed tar specifically, because it supports random access to
    members, unlike .tar.gz which must inflate from the front):
    ``_archives`` groups documents into genuine POSIX tarballs;
    ``tar_member_rows`` walks every member with stdlib ``tarfile`` and
    emits name/size/MD5 per member, value-checked against the original
    rows. Same two passes and scale posture as ``src_warc_scan``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _per_object(
        _archives(docs, make_tar_bytes, "tar"), tar_member_rows,
        "doc_id long, member_name string, n_bytes long, content_md5 string")


def tar_member_rows(archive_id: int, raw: bytes) -> Iterator[tuple]:
    """(doc_id, member_name, n_bytes, content_md5) per member of one
    tarball; a member whose data disagrees with its header size raises
    ``ValueError``."""
    import io
    import tarfile

    with tarfile.open(fileobj=io.BytesIO(raw), mode="r:") as tf:
        for info in tf:
            data = tf.extractfile(info).read()
            if len(data) != info.size:
                raise ValueError("tar member size disagrees with header")
            yield (int(info.name[4:-4]),  # doc_<id>.txt
                   info.name, info.size, hashlib.md5(data).hexdigest())
