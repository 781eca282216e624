"""Delta-file container source (reference RDFDeltaFileParser).

Format (RDFDeltaFileParser.java:30-180, IOUtil.java:689-707,801-807):

  cookie   8 bytes          "$DltF0\\n\\r"
  count    8 bytes          little-endian long
  start    8 bytes          little-endian long (epoch micros)
  end      8 bytes          little-endian long
  flavor   1 byte           WikidataChangesFlavor id
  pad      3 bytes
  crc8     1 byte           header CRC (read + ignored here — the
                            PARSER_DELTAFILE_NO_CRC mode)
  entry *count:
    name   VByte len + bytes (ASCII member file name)
    data   VByte len + bytes (GZIP stream of the member's RDF;
                              EMPTY data marks a deleted entity)
  crc32    4 bytes          data CRC (read + ignored)

VByte is HDT's 7-bit little-endian varint, high bit set on the LAST
byte (compact/integer/VByte.java). The reference feeds each non-empty
member through the parser guessed from its name and SKIPS deletions;
`read_delta_file` reproduces that (N-Triples members — the sandbox
parser set), and `delta_file_entries` exposes the raw (name, deleted)
inventory so callers can turn the deletion list into the delete_tri
of pipeline.incremental_update_triples (an ID-space diff_datasets).

Spark shape: one binaryFile row per delta file (files are bounded
change batches by construction), expanded via mapInPandas — same
pattern as the zip/tar sources.
"""

from __future__ import annotations

import gzip
import io
import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

COOKIE = b"$DltF0\n\r"


def _vbyte_decode(buf: io.BytesIO) -> int:
    out = 0
    shift = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated VByte")
        v = b[0]
        out |= (v & 0x7F) << shift
        if v & 0x80:
            return out
        shift += 7


def _vbyte_encode(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n == 0:
            out.append(b | 0x80)
            return bytes(out)
        out.append(b)


def parse_delta_file(blob: bytes) -> list[tuple[str, bytes]]:
    """-> [(member_name, decompressed_bytes)]; deleted entries yield
    empty bytes. Raises on a bad cookie, mirroring the reference."""
    buf = io.BytesIO(blob)
    if buf.read(8) != COOKIE:
        raise ValueError("Bad cookie")
    count, _start, _end = struct.unpack("<qqq", buf.read(24))
    buf.read(1)  # flavor
    buf.read(3)  # pad
    buf.read(1)  # header crc8 (ignored — NO_CRC semantics)
    entries: list[tuple[str, bytes]] = []
    for _ in range(count):
        name = buf.read(_vbyte_decode(buf)).decode("ascii")
        data = buf.read(_vbyte_decode(buf))
        entries.append((name, gzip.decompress(data) if data else b""))
    return entries


def write_delta_file(entries: list[tuple[str, bytes]]) -> bytes:
    """Inverse of parse_delta_file for fixtures/round-trips: entries
    are (name, raw_bytes); empty bytes write a deletion marker. CRC
    bytes are zeroed (readable in the reference's NO_CRC mode)."""
    out = bytearray()
    out += COOKIE
    out += struct.pack("<qqq", len(entries), 0, 0)
    out += bytes([1])  # flavor id
    out += b"\x00\x00\x00"
    out += b"\x00"  # header crc8
    for name, data in entries:
        nb = name.encode("ascii")
        out += _vbyte_encode(len(nb)) + nb
        payload = gzip.compress(data) if data else b""
        out += _vbyte_encode(len(payload)) + payload
    out += b"\x00\x00\x00\x00"  # data crc32
    return bytes(out)


def delta_file_entries(spark: SparkSession, path: str) -> DataFrame:
    """Raw inventory: (file, member, deleted boolean)."""

    def expand(batches):
        for pdf in batches:
            rows = []
            for fname, content in zip(pdf["path"], pdf["content"]):
                for name, data in parse_delta_file(bytes(content)):
                    rows.append((fname, name, len(data) == 0))
            yield pd.DataFrame(
                rows, columns=["file", "member", "deleted"]
            )

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.df")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
        .mapInPandas(expand, "file string, member string, deleted boolean")
    )


def read_delta_file(spark: SparkSession, path: str) -> DataFrame:
    """Added triples of every .df delta file under `path`: non-empty
    N-Triples members parse through the standard line parser; deleted
    entries are skipped exactly as RDFDeltaFileParser.doParse does
    (RDFDeltaFileParser.java:159-178)."""
    from qendpoint_spark.sources.ntriples import _parse_lines

    def expand(batches):
        for pdf in batches:
            out: list[str] = []
            for content in pdf["content"]:
                for name, data in parse_delta_file(bytes(content)):
                    if not data:
                        continue  # deletion marker
                    low = name.lower()
                    if low.endswith(".gz"):
                        low = low[:-3]
                    if not low.endswith((".nt", ".ntriples")):
                        continue  # non-NT member (ttl flavors out of scope)
                    out.extend(
                        data.decode("utf-8", errors="replace").splitlines()
                    )
            yield pd.DataFrame({"value": out})

    lines = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.df")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
        .mapInPandas(expand, "value string")
    )
    return _parse_lines(lines)
