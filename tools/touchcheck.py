#!/usr/bin/env python3
"""Independent reader of TouchDetector touch files, the reference the
touch tests compare graft's `touchbin` connector against.

Written from the format description in FIXTURES.md section A (index
header and per-neuron entries, raw C structs of the data file) and the
decoding rules of the reference's touch2parquet, using only the Python
standard library. It shares NO code, table or structure with graft's
Scala decoder: the record is unpacked with one `struct` format per
version, following the C field order, and mapped onto the output
columns here. A decoding mistake in the connector therefore shows up as
a row mismatch unless both readers made the same mistake independently.

Rules:
  - byte order: the index's first 8 bytes are the float64 1.001 in the
    writer's byte order; little-endian is tried first, then big-endian,
    and any other value fails. The data file uses the same order.
  - version: read from the index's 16-byte version string, as the
    reference does: ">=6" or ">=5.4" is v3 (104-byte records), ">=5" or
    ">=4.99" is v2 (80 bytes), and anything else, including a git hash
    or any component without a leading int32, is v1 (40 bytes).
  - index entries (id:int32, count:uint32, offset:int64): a header that
    declares more neurons than the file holds gets one all-zero entry in
    place of the missing ones (the reference reads into a zeroed
    buffer); an empty entry (offset 0, count 0) never replaces an
    earlier one with a non-zero shift; shift = offset / record size,
    truncated toward zero; a gid absent from the index has shift 0.
  - synapse_id = (gid << 24) + (row - shift(gid)), row being the
    record's position in the data file.
  - section/segment ids narrow their int32 word to int16, branch_order
    to int8; the two section types are the high and low nibbles of the
    branch_type byte, plus 1.

Output: one line per record, in file order, with the version's columns
in order, separated by "|". Integers print in decimal; floats print as
their IEEE-754 single bit pattern (0x%08x), every NaN as 0x7fc00000.

Failures (exit 1, one line on stderr naming the file and byte offset):
an index shorter than its 32-byte header, a bad index magic, a data
length that is not a whole number of records (the offset is where the
partial record starts), pre_section > 0x7fff (endianness damage) and an
ordinal >= 2^24 within one gid.

Usage: python3 tools/touchcheck.py touchesData.N
The index is the data file's name with its last "Data" removed
(touchesData.N -> touches.N).
"""
import os
import re
import struct
import sys

MAGIC = 1.001

# C struct of each version; float slots are read as uint32 ("I") so the
# bit pattern comes out as it is stored.
#   v1: pre[3] post[3] branch : int32, distance_soma pre_offset post_offset : f32
#   v2: + pre_fraction post_fraction pre_position[3] post_position[3]
#         spine_length : f32, branch_type : u8, 3 pad bytes
#   v3: + pre_position_center[3] post_position_surface[3] : f32
STRUCTS = {
    1: ("7i3I", 40),
    2: ("7i3I2I3I3II B3x", 80),
    3: ("7i3I2I3I3II B3x 3I3I", 104),
}


class TouchFail(Exception):
    def __init__(self, path, offset, msg):
        Exception.__init__(self, "%s: byte %d: %s" % (path, offset, msg))


def java_trim(s):
    return s.strip("".join(chr(c) for c in range(33)))


def sniff_version(text):
    parts = []
    for comp in text.split("."):
        m = re.match(r"[+-]?[0-9]+", java_trim(comp))
        # std::stoi throws on no digits and on int overflow alike
        if m is None or not -2**31 <= int(m.group(0)) < 2**31:
            return 1
        parts.append(int(m.group(0)))
    if parts[0] >= 6 or (len(parts) >= 2 and parts[0] >= 5 and parts[1] >= 4):
        return 3
    if parts[0] >= 5 or (len(parts) >= 2 and parts[0] >= 4 and parts[1] >= 99):
        return 2
    return 1


def trunc_div(a, b):
    q = abs(a) // b
    return -q if a < 0 else q


def read_index(path):
    """(byte order prefix, version, shift dict) of one index file."""
    with open(path, "rb") as f:
        raw = f.read()
    if len(raw) < 32:
        raise TouchFail(path, len(raw), "index header needs 32 bytes, file has %d" % len(raw))
    if struct.unpack_from("<d", raw, 0)[0] == MAGIC:
        bo = "<"
    elif struct.unpack_from(">d", raw, 0)[0] == MAGIC:
        bo = ">"
    else:
        raise TouchFail(path, 0, "architecture identifier is not 1.001 in either byte order")
    declared = struct.unpack_from(bo + "q", raw, 8)[0]
    text = raw[16:32].split(b"\0", 1)[0].decode("ascii", errors="replace")
    version = sniff_version(text)
    rec_size = STRUCTS[version][1]
    present = max(0, (len(raw) - 32) // 16)
    entries = [struct.unpack_from(bo + "iIq", raw, 32 + 16 * i)
               for i in range(min(declared, present))]
    if declared > present:
        entries.append((0, 0, 0))
    shifts = {}
    for gid, count, offset in entries:
        if shifts.get(gid, 0) > 0 and offset == 0 and count == 0:
            continue
        shifts[gid] = trunc_div(offset, rec_size)
    return bo, version, shifts


def narrow(value, bits):
    half = 1 << (bits - 1)
    return ((value + half) & ((1 << bits) - 1)) - half


def float_bits(bits):
    if bits & 0x7f800000 == 0x7f800000 and bits & 0x007fffff:
        bits = 0x7fc00000
    return "0x%08x" % bits


def rows(data_path, index_path):
    bo, version, shifts = read_index(index_path)
    fmt, rec_size = STRUCTS[version]
    fmt = bo + fmt
    assert struct.calcsize(fmt) == rec_size
    size = os.path.getsize(data_path)
    if size % rec_size:
        raise TouchFail(data_path, size - size % rec_size,
                        "length %d is not a multiple of the v%d record size %d"
                        % (size, version, rec_size))
    with open(data_path, "rb") as f:
        raw = f.read()
    out = []
    for row, rec in enumerate(struct.iter_unpack(fmt, raw)):
        (pre_gid, pre_sec, pre_seg, post_gid, post_sec, post_seg, branch,
         dist, pre_off, post_off) = rec[:10]
        base = row * rec_size
        if pre_sec > 0x7fff:
            raise TouchFail(data_path, base + 4, "pre_section %d > 0x7fff for gid %d "
                            "(byte order damage)" % (pre_sec, pre_gid))
        ordinal = row - shifts.get(pre_gid, 0)
        if ordinal >= 1 << 24:
            raise TouchFail(data_path, base, "gid %d ordinal %d >= 2^24" % (pre_gid, ordinal))
        # synapse_id, source/target_node_id, efferent section/segment id,
        # afferent section/segment id, efferent/afferent_segment_offset,
        # distance_soma, branch_order
        vals = [str((pre_gid << 24) + ordinal), str(pre_gid), str(post_gid),
                str(narrow(pre_sec, 16)), str(narrow(pre_seg, 16)),
                str(narrow(post_sec, 16)), str(narrow(post_seg, 16)),
                float_bits(pre_off), float_bits(post_off), float_bits(dist),
                str(narrow(branch, 8))]
        if version >= 2:
            # efferent/afferent_section_pos, efferent_surface_xyz,
            # afferent_center_xyz, spine_length, then the section types
            vals += [float_bits(b) for b in rec[10:19]]
            branch_type = rec[19]
            vals += [str((branch_type >> 4) + 1), str((branch_type & 0xf) + 1)]
        if version >= 3:
            # efferent_center_xyz, afferent_surface_xyz
            vals += [float_bits(b) for b in rec[20:26]]
        out.append("|".join(vals))
    return out


def main(argv):
    if len(argv) != 2 or "Data" not in os.path.basename(argv[1]):
        print(__doc__, file=sys.stderr)
        return 2
    data = argv[1]
    cut = data.rfind("Data")
    try:
        lines = rows(data, data[:cut] + data[cut + 4:])
    except TouchFail as e:
        print("touchcheck FAIL %s" % e, file=sys.stderr)
        return 1
    sys.stdout.write("".join(line + "\n" for line in lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
