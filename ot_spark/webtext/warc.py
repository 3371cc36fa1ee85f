"""WARC record source: parse Common Crawl's wire format into rows.

Common Crawl distributes crawls as WARC/1.0 files — length-framed record
streams (ISO 28500, public spec).  The one rule that matters: records are
framed by their ``Content-Length`` header, NEVER by scanning for the next
``WARC/1.0`` marker — payloads are arbitrary bytes and routinely contain
the marker (any page QUOTING a WARC file, e.g. the spec itself).  The
synthetic fixtures embed exactly that adversarial case so a delimiter-
split implementation fails the gate.

Scale shape (100 TB): segment files arrive via
``spark.read.format("binaryFile")`` (or a chunked range reader), one blob
per task; parsing is ``mapInArrow`` — Arrow-batched blobs in, a record
walk per blob, columnar rows out.  The walk is sequential WITHIN a blob
(framing is inherently serial) but blobs parallelize perfectly, which is
how every distributed WARC consumer works.  Gate scale stores one
blob per page row; the parser is identical either way.

Fixture rules (mirrored arithmetically in the DuckDB oracle — the oracle
never parses): per doc_id, the blob serializes that page's revision log
(ot_spark.webtext.crawldiff rules) as ``1 + doc_id % 3`` response
records; record ``r`` carries the crawldiff ``warc_epoch`` as its
WARC-Date, the synthetic target URI, and a payload whose length varies
and which embeds ``WARC/1.0\\r\\n`` when ``doc_id % 13 == 0``.  Header
order varies by record parity (real WARC headers are order-free).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from .crawldiff import CRAWL_EPOCH, DAY

_CRLF = "\r\n"

RECORD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("rec_idx", IntegerType()),
        StructField("target_uri", StringType()),
        StructField("warc_epoch", LongType()),
        StructField("content_length", LongType()),
        StructField("payload", StringType()),
    ]
)


def synthetic_warc_blob(doc_id: Column) -> Column:
    """Serialize the page's revision log as a WARC/1.0 byte blob — pure
    JVM Column algebra (concat/repeat/when), one blob per page row.

    Record r (r = 0..doc_id%3):
      WARC/1.0<CRLF>
      headers in r-parity order: WARC-Type, WARC-Target-URI, WARC-Date,
      Content-Length (even r) / Content-Length first (odd r)
      <CRLF><payload><CRLF><CRLF>
    payload = 'rec:<doc>:<r>:' + ('WARC/1.0<CRLF>' if doc%13==0
                                  else 'x' * ((doc + r) % 17))
    """
    d = doc_id
    uri = F.concat(
        F.lit("https://site"), (d % 50).cast("string"),
        F.lit(".org/p/"), (d % 200).cast("string"),
    )
    parts = []
    for r in range(3):  # max 3 revisions; gate each on r <= doc_id % 3
        epoch = F.lit(CRAWL_EPOCH) + (d % 11) * DAY + r * DAY * (1 + d % 5)
        date = F.concat(
            F.from_unixtime(epoch, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")
        )
        payload = F.concat(
            F.lit(f"rec:"), d.cast("string"), F.lit(f":{r}:"),
            F.when(d % 13 == 0, F.lit("WARC/1.0" + _CRLF)).otherwise(
                F.repeat(F.lit("x"), ((d + r) % 17).cast("int"))
            ),
        )
        h_type = F.lit("WARC-Type: response" + _CRLF)
        h_uri = F.concat(F.lit("WARC-Target-URI: "), uri, F.lit(_CRLF))
        h_date = F.concat(F.lit("WARC-Date: "), date, F.lit(_CRLF))
        h_len = F.concat(
            F.lit("Content-Length: "),
            F.length(payload).cast("string"), F.lit(_CRLF),
        )
        headers = (
            F.concat(h_type, h_uri, h_date, h_len)
            if r % 2 == 0
            else F.concat(h_len, h_date, h_uri, h_type)
        )
        rec = F.concat(
            F.lit("WARC/1.0" + _CRLF), headers, F.lit(_CRLF),
            payload, F.lit(_CRLF + _CRLF),
        )
        parts.append(F.when(d % 3 >= r, rec).otherwise(F.lit("")))
    return F.encode(F.concat(*parts), "UTF-8")


def _parse_blob(doc_id: int, data: bytes, out: dict) -> None:
    """Content-Length framing walk over one blob (the warcio algorithm):
    version line -> header lines until blank -> slice exactly
    Content-Length payload bytes -> skip the two-CRLF record separator.
    Raises on malformed input rather than resynchronizing — a corrupt
    segment should surface, not silently skip records."""
    pos, idx = 0, 0
    n = len(data)
    while pos < n:
        if not data.startswith(b"WARC/1.0\r\n", pos):
            raise ValueError(f"doc {doc_id}: bad record marker at {pos}")
        pos += 10
        hend = data.index(b"\r\n\r\n", pos)
        headers = {}
        for line in data[pos:hend].split(b"\r\n"):
            k, _, v = line.partition(b": ")
            headers[k.decode("ascii").lower()] = v.decode("ascii")
        clen = int(headers["content-length"])
        payload = data[hend + 4 : hend + 4 + clen]
        if len(payload) != clen:
            raise ValueError(f"doc {doc_id}: truncated payload at {pos}")
        date = headers["warc-date"]
        # ISO-8601 Z -> epoch seconds, no local-TZ dependence
        from datetime import datetime, timezone

        epoch = int(
            datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )
        out["doc_id"].append(doc_id)
        out["rec_idx"].append(idx)
        out["target_uri"].append(headers["warc-target-uri"])
        out["warc_epoch"].append(epoch)
        out["content_length"].append(clen)
        out["payload"].append(payload.decode("utf-8"))
        pos = hend + 4 + clen + 4
        idx += 1


def parse_warc_records(df: DataFrame) -> DataFrame:
    """mapInArrow WARC parser: blobs in, one row per record out."""
    schema = to_arrow_schema(RECORD_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            out: dict = {name: [] for name in schema.names}
            for doc_id, blob in zip(
                rb.column("doc_id").to_numpy(),
                rb.column("warc").to_numpy(zero_copy_only=False),
            ):
                _parse_blob(int(doc_id), blob, out)
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return df.select("doc_id", "warc").mapInArrow(gen, RECORD_SCHEMA)


def write_warc_records(records: DataFrame) -> DataFrame:
    """WARC sink: serialize parsed record rows back into per-document
    WARC/1.0 blobs — the writer half of the source/sink pair, so a
    filter/enrich pipeline can re-emit valid segment files.

    CANONICAL header order (Type, Target-URI, Date, Content-Length) —
    the spec says header order is free, so the writer normalizes; the
    roundtrip contract is record-level (parse(write(parse(x))) ==
    parse(x)), pinned by pytest, plus byte-level against a DuckDB
    replay of the canonical serialization.

    Distributed shape: record strings (version line, headers, framed
    payload) are pure map-side Column algebra; ONE groupBy(doc_id)
    exchange collects them, ordered by rec_idx via
    sort_array(collect_list(struct)) — no window, map-side combinable.
    Content-Length is re-derived from the payload, never trusted from
    the input row.  Returns (doc_id, warc: binary).
    """
    date = F.concat(
        F.from_unixtime("warc_epoch", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")
    )
    rec = F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit("WARC-Type: response" + _CRLF),
        F.lit("WARC-Target-URI: "), F.col("target_uri"), F.lit(_CRLF),
        F.lit("WARC-Date: "), date, F.lit(_CRLF),
        F.lit("Content-Length: "),
        # OCTET length (UTF-8 bytes), not character count: the blob is
        # encoded to UTF-8 below and _parse_blob frames records by BYTE
        # count, so a non-ASCII payload under F.length would emit an
        # invalid blob the parser mis-frames (r6 advice).  ASCII
        # payloads (all fixtures) are unchanged.
        F.octet_length("payload").cast("string"), F.lit(_CRLF),
        F.lit(_CRLF), F.col("payload"), F.lit(_CRLF + _CRLF),
    )
    per = records.select(
        F.col("doc_id"),
        F.struct(F.col("rec_idx"), rec.alias("rec")).alias("s"),
    )
    return per.groupBy("doc_id").agg(
        F.encode(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda x: x["rec"]
                ),
                "",
            ),
            "UTF-8",
        ).alias("warc")
    )
