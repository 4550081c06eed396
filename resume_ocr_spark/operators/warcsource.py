"""WARC ingest operator: binary crawl members → typed record rows.

The ingest edge of the web-scale pipeline: a DataFrame with a binary
WARC column (one crawl FILE or gzip member group per row — exactly how
Common Crawl shards land in object storage) fans out to one row per
contained WARC record with the fields the downstream stages key on
(target URI for :mod:`.urltools`, content type for kind dispatch, HTTP
status + body for :mod:`.extract`'s HTML stages).

100 TB shape: one ``extract.map_rows`` Arrow batch pass, no shuffle — each
blob's records come back as one array-of-struct value that ``F.inline``
explodes inside the same scan, and each input blob is independent
(Spark parallelism = input files, the natural crawl partitioning).
Malformed containers become ERROR ROWS naming the violated invariant
(the codec contract: poisoned inputs must never fail tasks); individual
record payloads that fail the HTTP split degrade to a per-record error.

Both operators — and the gate oracles in ``__spark_entry__`` — walk
blobs through ONE shared skeleton, :func:`blob_rows`, so a parsing /
keep-decision fix lands in exactly one place (a review pass found the
earlier four-copy layout had already grown a case-sensitivity
divergence risk).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..formats import warcformat
from .extract import map_rows

RECORD_SCHEMA = (
    "rec_idx int, warc_type string, target_uri string, content_type string, "
    "http_status int, n_payload_bytes int, text_head string, error string"
)
TEXT_HEAD_CHARS = 64

# sentinel rec_idx for blob-level failures (vs per-record errors)
_BLOB_ERROR = None


def blob_rows(blob: bytes | None) -> Iterator[tuple]:
    """Shared per-blob skeleton: yields
    ``(rec_idx, rec, status, http_headers, body, error)`` tuples.

    * NULL blob → one ``(None, None, None, {}, b'', 'null payload')``
      totality row;
    * malformed container → one ``(None, None, None, {}, b'', <msg>)``
      blob-level error row (``parse`` is all-or-nothing, validated
      before the first yield);
    * otherwise one tuple per record, where a failed
      ``application/http`` split degrades to a per-record error
      (``rec`` still present, ``status`` None, ``error`` named).

    Consumers shape these into their own schemas; the ORACLE blocks in
    ``__spark_entry__`` consume the same generator, so operator and
    oracle cannot diverge on parse semantics.

    Iterates :func:`~..formats.warcformat.iter_warc` (lazy payload
    slices), so peak residency is the inflated blob plus ONE payload —
    not blob + all slices, which would be ~2× per member group. The
    codec validates the whole container before its first yield, so the
    blob-level error case still produces exactly one row."""
    if blob is None:
        yield None, None, None, {}, b"", "null payload"
        return
    it = warcformat.iter_warc(bytes(blob))
    i = 0
    while True:
        try:
            rec = next(it)
        except StopIteration:
            return
        except warcformat.WarcError as exc:
            # all-or-nothing scan: only reachable before the first record
            yield None, None, None, {}, b"", str(exc)
            return
        try:
            status, hdr, body = warcformat.split_http_payload(
                rec["payload"])
            yield i, rec, status, hdr, body, None
        except warcformat.WarcError as exc:
            yield i, rec, None, {}, b"", str(exc)
        i += 1


def _blob_fan_out(df: DataFrame, bin_col: str, id_col: str,
                  rows: Callable[[bytes | None], list[tuple]],
                  rec_ddl: str) -> DataFrame:
    """``(doc_id, <rec_ddl>…)``: one output row per tuple ``rows(blob)``
    returns, in blob then list order."""
    blobs = df.select(F.col(id_col).cast("long").alias("doc_id"), bin_col)
    return map_rows(blobs, ["doc_id"], [bin_col], lambda b: (rows(b),),
                    f"recs array<struct<{rec_ddl}>>",
                    ).select("doc_id", F.inline("recs"))


def text_head(body: bytes, chars: int = TEXT_HEAD_CHARS) -> str:
    """First ``chars`` characters of the (UTF-8, replace) body. The byte
    window is 4× chars — a UTF-8 code point is ≤ 4 bytes, so the slice
    always covers ``chars`` characters without decoding the whole body.
    Shared by the operator AND the ``warc_ingest`` gate oracle so the
    head-derivation rule cannot diverge between them."""
    return body[:4 * chars].decode("utf-8", "replace")[:chars]


def is_keepable_html(rec: dict | None, status: int | None,
                     http_headers: dict) -> bool:
    """The crawl keep-decision: a ``response`` record whose HTTP message
    is a 200 with a ``text/html`` media type. HTTP media types are
    case-insensitive (RFC 9110 §8.3.1) and real crawls do carry
    ``Text/HTML; charset=...`` — compare lowercased."""
    return (rec is not None and rec["warc_type"] == "response"
            and status == 200
            and "text/html" in http_headers.get("content-type", "").lower())


def warc_records(
    df: DataFrame, bin_col: str = "warc", id_col: str = "doc_id"
) -> DataFrame:
    """One row per WARC record found in each blob of ``bin_col``.

    Output: ``(doc_id, rec_idx, warc_type, target_uri, content_type,
    http_status, n_payload_bytes, text_head, error)`` — ``http_status``
    and the body-derived fields come from the ``application/http`` split
    when the record wraps an HTTP message, from the bare payload
    otherwise; ``text_head`` is the first 64 chars of the (UTF-8,
    replace) body. A malformed blob yields ONE error row for that blob;
    a NULL blob likewise (error-as-data totality)."""

    def parse(blob):
        rows = []
        for i, rec, status, _hdr, body, err in blob_rows(blob):
            if rec is None:  # null / blob-level error row
                rows.append((None, None, None, None, None, None, None, err))
                continue
            rows.append((i, rec["warc_type"], rec["target_uri"],
                         rec["content_type"], status, len(rec["payload"]),
                         text_head(body), err))
        return rows

    return _blob_fan_out(df, bin_col, id_col, parse, RECORD_SCHEMA)


DOC_SCHEMA = (
    "rec_idx int, url string, http_status int, text string, "
    "n_html_bytes int, error string"
)


def warc_html_documents(
    df: DataFrame,
    bin_col: str = "warc",
    id_col: str = "doc_id",
    mode: str = "justext",
) -> DataFrame:
    """The full ingest→extraction coupling: WARC members → main-content
    DOCUMENTS. Keeps ``response`` records whose HTTP message is a
    ``text/html`` 200 (case-insensitive media type —
    :func:`is_keepable_html`), decodes the body (UTF-8, replace),
    strips boilerplate with :func:`..formats.htmlcodec.strip_boilerplate`
    (``mode='justext'`` — crawl-class pages — by default), and emits
    ``(doc_id, rec_idx, url, http_status, text, n_html_bytes, error)``
    rows ready for the curation/dedup/selection stages (one
    :mod:`.urltools` pass away from domain triage).

    Same zero-shuffle ``map_rows`` fan-out as :func:`warc_records`;
    malformed members and non-keepable records are error rows and
    silent skips respectively (a crawl is MOSTLY non-HTML records —
    warcinfo, requests, metadata — and skipping them is the semantics,
    not an error)."""
    from ..formats import htmlcodec

    def extract(blob):
        rows = []
        for i, rec, status, hdr, body, err in blob_rows(blob):
            if rec is None:  # null / blob-level error row
                rows.append((None, None, None, None, None, err))
                continue
            if rec["warc_type"] != "response":
                continue
            if err is not None:  # response whose HTTP split failed
                rows.append((i, rec["target_uri"], None, None, None, err))
                continue
            if not is_keepable_html(rec, status, hdr):
                continue
            text = htmlcodec.strip_boilerplate(
                body.decode("utf-8", "replace"), mode=mode)
            rows.append((i, rec["target_uri"], status, text, len(body),
                         None))
        return rows

    return _blob_fan_out(df, bin_col, id_col, extract, DOC_SCHEMA)


ROBOTS_SCHEMA = "rec_idx int, url string, robots_txt string, error string"

# the REP well-known path, anchored: scheme://authority/robots.txt with
# nothing after but an optional query/fragment (RFC 9309 §2.3; the path
# is case-sensitive and lowercase by definition)
_ROBOTS_URI_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*/robots\.txt(?:[?#].*)?$"


def warc_robots_txt(
    df: DataFrame,
    bin_col: str = "warc",
    id_col: str = "doc_id",
    one_per_host: bool = True,
) -> DataFrame:
    """robots.txt bodies out of crawl WARCs — the ingest edge of the
    :mod:`.urltools` robots gate. Keeps ``response`` records whose
    target URI is exactly the well-known ``/robots.txt`` path with HTTP
    200, decodes the body (UTF-8, replace), and (by default) folds to
    ONE row per host — the newest capture by ``(doc_id, rec_idx)`` via
    the same map-side-combined ``max_by`` shape as
    ``urltools.keep_latest_capture`` — producing the ``(host,
    robots_txt)`` table :func:`urltools.parse_robots` and
    ``tools/submit_refresh.py --robots`` consume.

    Distributed shape: zero-shuffle ``map_rows`` scan (robots fetches
    are a tiny sliver of a crawl, so the emitted side is #hosts-sized),
    then with ``one_per_host`` exactly one hash shuffle on host with
    map-side combine. Malformed blobs stay error rows
    (``one_per_host=False`` keeps them for audit; the folded form
    drops them — a rules table has no use for an unparseable member)."""
    import re as _re

    pat = _re.compile(_ROBOTS_URI_RE)

    def extract(blob):
        rows = []
        for i, rec, status, _hdr, body, err in blob_rows(blob):
            if rec is None:  # null / blob-level error row
                rows.append((None, None, None, err))
                continue
            if rec["warc_type"] != "response":
                continue
            uri = rec["target_uri"] or ""
            if not pat.match(uri):
                continue
            if err is not None:  # failed HTTP split, kept for audit
                rows.append((i, uri, None, err))
                continue
            if status != 200:
                continue
            rows.append((i, uri, body.decode("utf-8", "replace"), None))
        return rows

    recs = _blob_fan_out(df, bin_col, id_col, extract, ROBOTS_SCHEMA)
    if not one_per_host:
        return recs
    from . import urltools

    ok = recs.filter(F.col("error").isNull()
                     & F.col("robots_txt").isNotNull())
    hosted = ok.withColumn("host", urltools.host_expr(F.col("url")))
    latest = urltools.keep_latest_capture(
        hosted, url_col="host", ts_col="doc_id", tie_col="rec_idx")
    return latest.select("host", "robots_txt")
