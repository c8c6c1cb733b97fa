#!/usr/bin/env python3
"""Independent reader of a parquet sink, the reference the parquet sink
tests compare graft's page writer and Spark's own writer against.

Rows are read with DuckDB, whose parquet reader shares no code with
parquet-mr or Spark. The footer and the page headers are decoded here,
with the Python standard library only: a small Thrift compact-protocol
decoder reads FileMetaData from the end of each file and walks every
column chunk's page headers, following the parquet-format spec.

Output, for the part files of a directory (names not starting with "_"
or "."), or for one file:
  - one line per record, ordered by synapse_id (or by every column when
    there is none), with the columns in schema order separated by "|".
    Integers print in decimal; floats print as their IEEE-754 bit
    pattern (0x%08x, doubles 0x%016x), every NaN as the canonical one.
  - then the footer facts, one line each, files numbered in name order:
      file <f> rows <n> row_groups <k>
      chunk <f>.<g> <column> encodings <E,...> pages <rows,...>
            bytes <n> crc32 <hex> column_index <0|1> offset_index <0|1>
      stats <f> <column> min <v> max <v> nulls <n>
    `pages` lists the rows of each data page in file order; `bytes` and
    `crc32` cover the chunk's pages, headers included. `stats` is
    the whole file: the least min and the greatest max over its row
    groups in Java's Float.compare/Double.compare order (-0.0 < 0.0,
    NaN greatest), and the summed null counts; "none" when a chunk has
    no statistics.

Usage: python3 tools/parquetcheck.py <parquet dir or file>
"""
import math
import os
import struct
import sys
import zlib

import duckdb

ENCODINGS = {0: "PLAIN", 2: "PLAIN_DICTIONARY", 3: "RLE", 4: "BIT_PACKED",
             5: "DELTA_BINARY_PACKED", 6: "DELTA_LENGTH_BYTE_ARRAY",
             7: "DELTA_BYTE_ARRAY", 8: "RLE_DICTIONARY", 9: "BYTE_STREAM_SPLIT"}
INT32, INT64, FLOAT, DOUBLE = 1, 2, 4, 5


class Thrift:
    """Decoder of Thrift's compact protocol: a struct becomes a dict of
    field id -> value, a list a Python list."""

    def __init__(self, buf, pos=0):
        self.buf, self.pos = buf, pos

    def byte(self):
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self):
        shift = result = 0
        while True:
            b = self.byte()
            result |= (b & 0x7F) << shift
            if b < 0x80:
                return result
            shift += 7

    def zigzag(self):
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def value(self, t):
        if t in (1, 2):                 # a bool field: the type is the value
            return t == 1
        if t == 3:
            return struct.unpack("b", bytes([self.byte()]))[0]
        if t in (4, 5, 6):
            return self.zigzag()
        if t == 7:
            self.pos += 8
            return struct.unpack_from("<d", self.buf, self.pos - 8)[0]
        if t == 8:
            n = self.varint()
            self.pos += n
            return bytes(self.buf[self.pos - n:self.pos])
        if t in (9, 10):
            head = self.byte()
            n, et = head >> 4, head & 0x0F
            if n == 15:
                n = self.varint()
            if et in (1, 2):            # bools in a list are one byte each
                return [self.byte() == 1 for _ in range(n)]
            return [self.value(et) for _ in range(n)]
        if t == 11:
            n = self.varint()
            if n == 0:
                return {}
            kv = self.byte()
            return {self.value(kv >> 4): self.value(kv & 0x0F) for _ in range(n)}
        if t == 12:
            return self.struct()
        raise ValueError(f"thrift type {t} at byte {self.pos}")

    def struct(self):
        fields, fid = {}, 0
        while True:
            head = self.byte()
            if head == 0:
                return fields
            delta, t = head >> 4, head & 0x0F
            fid = fid + delta if delta else self.zigzag()
            fields[fid] = self.value(t)


def footer(data, name):
    if data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        sys.exit(f"{name}: not a parquet file")
    n = struct.unpack_from("<I", data, len(data) - 8)[0]
    return Thrift(data, len(data) - 8 - n).struct()


def chunk_span(meta):
    """(start, end) of a column chunk: its dictionary page, else its
    first data page, for total_compressed_size bytes (headers included)."""
    pos = meta.get(11) or meta[9]
    return pos, pos + meta[7]


def page_rows(data, meta):
    """Rows of each data page of one column chunk, from its page headers."""
    pos, end = chunk_span(meta)
    rows = []
    while pos < end:
        t = Thrift(data, pos)
        head = t.struct()
        if head[1] == 0:                # DATA_PAGE: values are rows when flat
            rows.append(head[5][1])
        elif head[1] == 3:              # DATA_PAGE_V2
            rows.append(head[8][3])
        pos = t.pos + head[3]           # + compressed_page_size
    return rows


def order_key(ptype, raw):
    """Java's Float.compare/Double.compare order (NaN greatest)."""
    if ptype in (FLOAT, DOUBLE):
        x = struct.unpack("<f" if ptype == FLOAT else "<d", raw)[0]
        return (math.inf, 2) if x != x else (x, 1 if math.copysign(1.0, x) > 0 else 0)
    return (struct.unpack("<i" if ptype == INT32 else "<q", raw)[0], 0)


def render_stat(ptype, raw):
    if ptype == FLOAT:
        return "0x%08x" % struct.unpack("<I", raw)[0]
    if ptype == DOUBLE:
        return "0x%016x" % struct.unpack("<Q", raw)[0]
    if ptype in (INT32, INT64):
        return str(struct.unpack("<i" if ptype == INT32 else "<q", raw)[0])
    return raw.hex()


def footer_lines(files):
    out = []
    for f, path in enumerate(files):
        with open(path, "rb") as fh:
            data = fh.read()
        meta = footer(data, path)
        groups = meta.get(4, [])
        out.append(f"file {f} rows {meta[3]} row_groups {len(groups)}")
        chunks = {}                     # column -> [(type, min, max, nulls)]
        for g, group in enumerate(groups):
            for chunk in group[1]:
                cm = chunk[3]
                col = ".".join(p.decode() for p in cm[3])
                enc = ",".join(ENCODINGS.get(e, str(e)) for e in cm[2])
                pages = ",".join(str(r) for r in page_rows(data, cm))
                start, end = chunk_span(cm)
                out.append(f"chunk {f}.{g} {col} encodings {enc} pages {pages} "
                           f"bytes {end - start} crc32 {zlib.crc32(data[start:end]):08x} "
                           f"column_index {int(6 in chunk)} offset_index {int(4 in chunk)}")
                s = cm.get(12, {})
                chunks.setdefault(col, []).append(
                    (cm[1], s.get(6, s.get(2)), s.get(5, s.get(1)), s.get(3)))
        for col, cs in chunks.items():
            ptype = cs[0][0]
            if any(lo is None or hi is None or nulls is None for _, lo, hi, nulls in cs):
                out.append(f"stats {f} {col} none")
                continue
            key = lambda raw: order_key(ptype, raw)
            lo = min((c[1] for c in cs), key=key)
            hi = max((c[2] for c in cs), key=key)
            out.append(f"stats {f} {col} min {render_stat(ptype, lo)} "
                       f"max {render_stat(ptype, hi)} nulls {sum(c[3] for c in cs)}")
    return out


def render(value, kind):
    if kind == "FLOAT":
        bits = 0x7FC00000 if value != value else struct.unpack("<I", struct.pack("<f", value))[0]
        return "0x%08x" % bits
    if kind == "DOUBLE":
        bits = (0x7FF8000000000000 if value != value
                else struct.unpack("<Q", struct.pack("<d", value))[0])
        return "0x%016x" % bits
    return str(value)


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: parquetcheck.py <parquet dir or file>")
    root = sys.argv[1]
    if os.path.isdir(root):
        files = [os.path.join(root, n) for n in sorted(os.listdir(root))
                 if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(root, n))]
    else:
        files = [root]
    if not files:
        sys.exit(f"{root}: no parquet part file")
    listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    rel = duckdb.sql(f"SELECT * FROM read_parquet([{listed}])")
    order = "synapse_id" if "synapse_id" in rel.columns else "ALL"
    kinds = [str(t) for t in rel.types]
    for row in rel.order(order).fetchall():
        print("|".join(render(v, k) for v, k in zip(row, kinds)))
    for line in footer_lines(files):
        print(line)


if __name__ == "__main__":
    main()
