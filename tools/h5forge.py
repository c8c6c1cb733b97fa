#!/usr/bin/env python3
"""Forge minimal HDF5 files using features OUR codec's subset excludes.

The round-13 verdict asked for foreign-feature fixtures: files a real
libhdf5 writer could legitimately produce (reference sonata_file.cpp
accepts whatever libhdf5 wrote) but which sit OUTSIDE the strict classic
subset Hdf5Mini.scala parses. The reader's contract is "fail loud, never
guess" — these fixtures pin that rejection path byte-for-byte.

Authored directly from the public HDF5 File Format Specification
(https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html), the h5check.py
discipline in reverse: an INDEPENDENT second reading of the spec, in a
different language, sharing no code with the Scala writer. Spec section
numbers cited inline per structure.

Fixtures (deterministic bytes — committed under src/test/resources/):
  foreign_chunked.h5   classic superblock v0 + one 1-D int32 dataset
                       stored CHUNKED (layout message v3 class 2, spec
                       IV.A.2.l) with a v1 node-type-1 chunk B-tree
                       (III.A.1) and two 5-element raw chunks. Fully
                       valid per spec; h5py/h5dump would read it.
  foreign_v2header.h5  classic superblock v0 whose root group uses a
                       VERSION 2 object header ("OHDR" signature, spec
                       IV.A.2) with link-info/group-info messages and a
                       Jenkins lookup3 gateway checksum — the "new
                       style" group format libhdf5 emits under
                       H5F_LIBVER_LATEST.

Usage: python3 tools/h5forge.py <outdir>
"""
import struct
import sys

UNDEF = 0xFFFFFFFFFFFFFFFF


def superblock_v0(root_oh_addr, eof, btree_addr=UNDEF, heap_addr=UNDEF):
    """Spec II.A.1: version-0 superblock, offsets/lengths 8 bytes,
    group leaf k=4, internal k=16, plus the root symbol-table entry
    (spec III.C) with cache type 1 (cached group B-tree/heap addrs)."""
    b = b"\x89HDF\r\n\x1a\n"                    # signature
    b += struct.pack("<8B", 0, 0, 0, 0, 0, 8, 8, 0)
    # sb ver, free-space ver, root-stab ver, reserved,
    # shared-msg ver, sizeof offsets, sizeof lengths, reserved
    b += struct.pack("<HH", 4, 16)               # leaf k, internal k
    b += struct.pack("<I", 0)                    # file consistency flags
    b += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    # base, free-space addr, EOF, driver info
    # root group symbol table entry: link name offset 0, OH addr,
    # cache type 1, reserved, scratch = {btree addr, heap addr}
    b += struct.pack("<QQII", 0, root_oh_addr, 1, 0)
    b += struct.pack("<QQ", btree_addr, heap_addr)
    assert len(b) == 96
    return b


def msg(mtype, body):
    """Spec IV.A.1: v1 header message: type(2) size(2) flags(1) pad(3),
    body padded to a multiple of 8."""
    pad = (8 - len(body) % 8) % 8
    return struct.pack("<HHB3x", mtype, len(body) + pad, 0) + body + b"\0" * pad


def object_header_v1(messages):
    """Spec IV.A.1: version-1 object header prefix (16 bytes incl. the
    4-byte alignment gap), then the messages."""
    body = b"".join(messages)
    return struct.pack("<BBHIII", 1, 0, len(messages), 1, len(body), 0) + body


def dataspace_v1(dims):
    """Spec IV.A.2.b: v1 simple dataspace, no max dims, no perm."""
    return struct.pack("<BBB5x", 1, len(dims), 0) + b"".join(
        struct.pack("<Q", d) for d in dims)


def datatype_i32le():
    """Spec IV.A.2.d: class 0 (fixed-point) v1, little-endian, signed,
    size 4, bit offset 0, precision 32."""
    return struct.pack("<B3BIHH", 0x10, 0x08, 0, 0, 4, 0, 32)


def fill_v2():
    """Spec IV.A.2.f: v2 fill value, alloc EARLY, fill IFSET, undefined."""
    return struct.pack("<BBBB", 2, 1, 2, 0)


def layout_v3_chunked(rank, btree_addr, chunk_dims, elem_size):
    """Spec IV.A.2.l: v3 data layout, class 2 (chunked): dimensionality
    is the dataset rank + 1, then the chunk B-tree address, then 4-byte
    chunk dims with the ELEMENT SIZE as the trailing dimension."""
    b = struct.pack("<BBB", 3, 2, rank + 1)
    b += struct.pack("<Q", btree_addr)
    for d in chunk_dims:
        b += struct.pack("<I", d)
    b += struct.pack("<I", elem_size)
    return b


def symbol_table_msg(btree_addr, heap_addr):
    """Spec IV.A.2.r: symbol table message = B-tree addr + heap addr."""
    return struct.pack("<QQ", btree_addr, heap_addr)


def local_heap(names, addr_of_data):
    """Spec III.D: HEAP header + data segment; returns (header_bytes,
    data_bytes, {name: offset}). First 8 data bytes reserved (offset 0
    is the empty string the B-tree's leftmost key points at)."""
    data = bytearray(b"\0" * 8)
    offsets = {}
    for n in names:
        offsets[n] = len(data)
        raw = n.encode() + b"\0"
        data += raw + b"\0" * ((8 - len(raw) % 8) % 8)
    # free-list head 1 = empty free list (libhdf5's H5HL_FREE_NULL
    # convention for the spec's "no free block" case)
    hdr = b"HEAP" + struct.pack("<B3xQQQ", 0, len(data), 1, addr_of_data)
    return bytes(hdr), bytes(data), offsets


def group_btree(snod_addr, last_name_off, k_internal=16):
    """Spec III.A.1: v1 B-tree, node type 0 (group), level 0, one child;
    keys bracket the SNOD: key0 = heap offset 0 (empty string), key1 =
    last member name. libhdf5 allocates group nodes at FULL 2K capacity
    (24 + (2K+1) keys + 2K children), zero-padded past the used entries."""
    body = (b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, UNDEF, UNDEF)
            + struct.pack("<QQQ", 0, snod_addr, last_name_off))
    full = 24 + (2 * k_internal + 1) * 8 + 2 * k_internal * 8
    return body + b"\0" * (full - len(body))


def snod(entries, k_leaf=4):
    """Spec III.C: symbol node with 40-byte entries (cache type 0),
    allocated at full 2K capacity like libhdf5 (8 + 2K x 40 bytes)."""
    b = b"SNOD" + struct.pack("<BBH", 1, 0, len(entries))
    for name_off, oh_addr in entries:
        b += struct.pack("<QQII16x", name_off, oh_addr, 0, 0)
    full = 8 + 2 * k_leaf * 40
    return b + b"\0" * (full - len(b))


def chunk_btree(rank, entries, total_dims):
    """Spec III.A.1, node type 1 (raw data chunks), level 0. A key is
    chunk-bytes(4) + filter-mask(4) + (rank+1) 8-byte offsets, the last
    offset always 0; keys and children alternate, with one trailing key
    holding the dataset's end offset."""
    def key(nbytes, offs):
        return struct.pack("<II", nbytes, 0) + b"".join(
            struct.pack("<Q", o) for o in offs) + struct.pack("<Q", 0)
    b = b"TREE" + struct.pack("<BBHQQ", 1, 0, len(entries), UNDEF, UNDEF)
    for nbytes, offs, child in entries:
        b += key(nbytes, offs) + struct.pack("<Q", child)
    b += key(0, total_dims)
    return b


def forge_chunked(path, n=10, chunk=5):
    """Classic file, root group with ONE dataset 'data': n int32 values
    0..n-1 stored as ceil(n/chunk) chunk-size-`chunk` chunks under a
    chunked layout. When chunk does not divide n, the last chunk is an
    EDGE chunk: stored full-size on disk (libhdf5 always allocates whole
    chunks) with only the in-extent prefix meaningful."""
    # ---- layout plan (addresses are fixed by construction order) ----
    # 96 superblock | root OH | btree | heap hdr | heap data | SNOD |
    # dataset OH | chunk btree | chunk0 | chunk1
    heap_hdr_len = 32
    root_oh = 96
    root_oh_bytes_probe = object_header_v1([msg(0x0011, symbol_table_msg(0, 0))])
    btree_addr = root_oh + len(root_oh_bytes_probe)
    heap_hdr = btree_addr + len(group_btree(0, 0))
    heap_data = heap_hdr + heap_hdr_len
    _, hd, offs = local_heap(["data"], heap_data)
    snod_addr = heap_data + len(hd)
    snod_bytes = snod([(offs["data"], 0)])
    ds_oh = snod_addr + len(snod_bytes)
    nchunks = (n + chunk - 1) // chunk
    cbytes = chunk * 4
    ds_oh_probe = object_header_v1([
        msg(0x0001, dataspace_v1([n])), msg(0x0003, datatype_i32le()),
        msg(0x0005, fill_v2()), msg(0x0008, layout_v3_chunked(1, 0, [chunk], 4))])
    cbt_addr = ds_oh + len(ds_oh_probe)
    cbt_probe = chunk_btree(1, [(cbytes, [i * chunk], 0) for i in range(nchunks)], [n])
    chunk_addrs = [cbt_addr + len(cbt_probe) + i * cbytes for i in range(nchunks)]
    eof = chunk_addrs[-1] + cbytes

    out = bytearray()
    out += superblock_v0(root_oh, eof, btree_addr, heap_hdr)
    out += object_header_v1([msg(0x0011, symbol_table_msg(btree_addr, heap_hdr))])
    out += group_btree(snod_addr, offs["data"])
    hh, hd, _ = local_heap(["data"], heap_data)
    out += hh + hd
    out += snod([(offs["data"], ds_oh)])
    out += object_header_v1([
        msg(0x0001, dataspace_v1([n])), msg(0x0003, datatype_i32le()),
        msg(0x0005, fill_v2()), msg(0x0008, layout_v3_chunked(1, cbt_addr, [chunk], 4))])
    out += chunk_btree(1,
        [(cbytes, [i * chunk], chunk_addrs[i]) for i in range(nchunks)], [n])
    for i in range(nchunks):
        # whole chunks on disk; past-extent elements are fill garbage
        vals = [i * chunk + j if i * chunk + j < n else -1 for j in range(chunk)]
        out += b"".join(struct.pack("<i", v) for v in vals)
    assert len(out) == eof, (len(out), eof)
    with open(path, "wb") as f:
        f.write(out)


# ---- Jenkins lookup3 (public domain, Bob Jenkins 2006) — the checksum
# v2 object headers carry (spec IV.A.2 "Gateway checksum") ----
def _rot(x, k):
    return ((x << k) | (x >> (32 - k))) & 0xFFFFFFFF


def lookup3(data, init=0):
    a = b = c = (0xDEADBEEF + len(data) + init) & 0xFFFFFFFF
    i = 0
    while len(data) - i > 12:
        a = (a + int.from_bytes(data[i:i + 4], "little")) & 0xFFFFFFFF
        b = (b + int.from_bytes(data[i + 4:i + 8], "little")) & 0xFFFFFFFF
        c = (c + int.from_bytes(data[i + 8:i + 12], "little")) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= _rot(c, 4); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= _rot(a, 6); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= _rot(b, 8); b = (b + a) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= _rot(c, 16); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= _rot(a, 19); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= _rot(b, 4); b = (b + a) & 0xFFFFFFFF
        i += 12
    tail = data[i:] + b"\0" * (12 - (len(data) - i))
    if len(data) - i > 0:
        a = (a + int.from_bytes(tail[0:4], "little")) & 0xFFFFFFFF
        b = (b + int.from_bytes(tail[4:8], "little")) & 0xFFFFFFFF
        c = (c + int.from_bytes(tail[8:12], "little")) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 14)) & 0xFFFFFFFF
        a ^= c; a = (a - _rot(c, 11)) & 0xFFFFFFFF
        b ^= a; b = (b - _rot(a, 25)) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 16)) & 0xFFFFFFFF
        a ^= c; a = (a - _rot(c, 4)) & 0xFFFFFFFF
        b ^= a; b = (b - _rot(a, 14)) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 24)) & 0xFFFFFFFF
    return c


def object_header_v2(messages):
    """Spec IV.A.2: 'OHDR' + version 2 + flags (bits 0-1 = size of the
    chunk-0 size field; 0 → 1 byte) + size-of-chunk-0 + messages (v2
    message header: type(1) size(2) flags(1), NO alignment padding) +
    lookup3 gateway checksum over everything before it."""
    body = b""
    for mtype, mbody in messages:
        body += struct.pack("<BHB", mtype, len(mbody), 0) + mbody
    hdr = b"OHDR" + struct.pack("<BB", 2, 0) + struct.pack("<B", len(body))
    unchecked = hdr + body
    return unchecked + struct.pack("<I", lookup3(unchecked))


def forge_v2header(path):
    """Classic superblock v0 whose ROOT object header is version 2 — a
    'new style' empty group: link-info (type 0x02, spec IV.A.2.c) and
    group-info (type 0x0A, IV.A.2.k) messages, fractal-heap/name-index
    addresses undefined (no links)."""
    root_oh = 96
    link_info = struct.pack("<BBQQ", 0, 0, UNDEF, UNDEF)
    # v0, flags 0 (no creation order), fractal heap addr, name btree addr
    group_info = struct.pack("<BB", 0, 0)   # v0, no flags → no optional fields
    oh = object_header_v2([(0x02, link_info), (0x0A, group_info)])
    eof = root_oh + len(oh)
    out = superblock_v0(root_oh, eof) + oh
    with open(path, "wb") as f:
        f.write(out)


def main():
    outdir = sys.argv[1] if len(sys.argv) > 1 else "src/test/resources"
    forge_chunked(f"{outdir}/foreign_chunked.h5")
    forge_chunked(f"{outdir}/foreign_chunked_edge.h5", n=7, chunk=5)
    forge_chunked_edges(f"{outdir}/foreign_chunked_edges.h5")
    forge_chunked_deep(f"{outdir}/foreign_chunked_deep.h5")
    forge_chunked_multi(f"{outdir}/foreign_chunked_multi.h5")
    forge_v2header(f"{outdir}/foreign_v2header.h5")
    forge_v2tree(f"{outdir}/foreign_v2tree.h5")
    print(f"forged foreign_chunked[_edge].h5 + foreign_v2header.h5 under {outdir}")



def datatype_i64le():
    """Spec IV.A.2.d: class 0 fixed-point v1, LE, signed, 8 bytes."""
    return struct.pack("<B3BIHH", 0x10, 0x08, 0, 0, 8, 0, 64)


def group_block(base, members):
    """Lay out one classic group (object header + full-size B-tree +
    local heap + full-size SNOD) at byte offset `base`. `members` is an
    ordered {name: oh_addr} map (name-sorted by caller, spec III.A.1).
    Returns (bytes, btree_addr, heap_addr); sub-block sizes are fixed,
    so callers can chain groups sequentially."""
    oh_len = len(object_header_v1([msg(0x0011, symbol_table_msg(0, 0))]))
    bt_addr = base + oh_len
    heap_hdr = bt_addr + len(group_btree(0, 0))
    heap_data = heap_hdr + 32
    hh, hd, offs = local_heap(list(members), heap_data)
    snod_addr = heap_data + len(hd)
    names = list(members)
    out = object_header_v1([msg(0x0011, symbol_table_msg(bt_addr, heap_hdr))])
    out += group_btree(snod_addr, offs[names[-1]])
    out += hh + hd
    out += snod([(offs[n], members[n]) for n in names])
    return out, bt_addr, heap_hdr


def forge_chunked_edges(path, n=12, chunk=4):
    """A miniature SONATA-shaped tree /edges/pop/source_node_id whose
    single edge column (int64, n values 0..n-1) is CHUNKED — drives a
    chunked column through the sonatah5 source's real /edges discovery
    path (Hdf5DataSource.layout), where the flat fixtures cannot reach
    it."""
    # group size depends on member-name heap padding — probe each level
    root_base = 96
    edges_base = root_base + len(group_block(root_base, {"edges": 0})[0])
    pop_base = edges_base + len(group_block(edges_base, {"pop": 0})[0])
    ds_oh = pop_base + len(group_block(pop_base, {"source_node_id": 0})[0])
    nchunks = (n + chunk - 1) // chunk
    cbytes = chunk * 8
    ds_probe = object_header_v1([
        msg(0x0001, dataspace_v1([n])), msg(0x0003, datatype_i64le()),
        msg(0x0005, fill_v2()), msg(0x0008, layout_v3_chunked(1, 0, [chunk], 8))])
    cbt_addr = ds_oh + len(ds_probe)
    cbt = chunk_btree(1, [(cbytes, [i * chunk], 0) for i in range(nchunks)], [n])
    chunk_addrs = [cbt_addr + len(cbt) + i * cbytes for i in range(nchunks)]
    eof = chunk_addrs[-1] + cbytes

    root, root_bt, root_heap = group_block(root_base, {"edges": edges_base})
    edges, _, _ = group_block(edges_base, {"pop": pop_base})
    pop, _, _ = group_block(pop_base, {"source_node_id": ds_oh})
    out = bytearray()
    out += superblock_v0(root_base, eof, root_bt, root_heap)
    out += root + edges + pop
    out += object_header_v1([
        msg(0x0001, dataspace_v1([n])), msg(0x0003, datatype_i64le()),
        msg(0x0005, fill_v2()), msg(0x0008, layout_v3_chunked(1, cbt_addr, [chunk], 8))])
    out += chunk_btree(1,
        [(cbytes, [i * chunk], chunk_addrs[i]) for i in range(nchunks)], [n])
    for i in range(nchunks):
        vals = [i * chunk + j if i * chunk + j < n else -1 for j in range(chunk)]
        out += b"".join(struct.pack("<q", v) for v in vals)
    assert len(out) == eof, (len(out), eof)
    with open(path, "wb") as f:
        f.write(out)




def superblock_v23(root_oh, eof, version=2):
    """Spec II.A.2: the 48-byte v2/v3 superblock — sig, version,
    offset/length sizes, flags, base, extension addr, EOF, ROOT OBJECT
    HEADER ADDRESS (no symbol-table entry), lookup3 checksum."""
    b = b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBB", version, 8, 8, 0)
    b += struct.pack("<QQQQ", 0, UNDEF, eof, root_oh)
    b += struct.pack("<I", lookup3(b))
    assert len(b) == 48
    return b


def link_msg(name, oh_addr):
    """Spec IV.A.2.g v1 link message, flags 0: 1-byte name length, hard
    link, no creation order / charset fields."""
    nb = name.encode()
    assert len(nb) < 256
    return struct.pack("<BBB", 1, 0, len(nb)) + nb + struct.pack("<Q", oh_addr)


def layout_v3_contig(addr, size):
    """Spec IV.A.2.l v3 layout, class 1 (contiguous): address + size."""
    return struct.pack("<BBQQ", 3, 1, addr, size)


def v2group(members):
    """A 'new style' group header: link-info (fractal heap UNDEF — the
    compact regime), one hard link message per member, group-info."""
    link_info = struct.pack("<BBQQ", 0, 0, UNDEF, UNDEF)
    msgs = [(0x02, link_info)]
    msgs += [(0x06, link_msg(n, a)) for n, a in members.items()]
    msgs += [(0x0A, struct.pack("<BB", 0, 0))]
    return object_header_v2(msgs)


def forge_v2tree(path, n=20):
    """The round-14 'new style' READ fixture: superblock v2 + version-2
    object headers with COMPACT hard links all the way down —
    /edges/pop/source_node_id, i64 contiguous, value (5*i+1) % 97.
    This is the group format libhdf5 emits under H5F_LIBVER_LATEST for
    small groups (links below max_compact live as header messages);
    values are a closed form so the planned-source face's DuckDB oracle
    reproduces the decode from range()."""
    root_base = 48
    def ds_oh(addr):
        return object_header_v2([
            (0x01, dataspace_v1([n])), (0x03, datatype_i64le()),
            (0x08, layout_v3_contig(addr, n * 8))])
    edges_base = root_base + len(v2group({"edges": 0}))
    pop_base = edges_base + len(v2group({"pop": 0}))
    ds_base = pop_base + len(v2group({"source_node_id": 0}))
    data_addr = ds_base + len(ds_oh(0))
    eof = data_addr + n * 8
    out = bytearray()
    out += superblock_v23(root_base, eof)
    out += v2group({"edges": edges_base})
    out += v2group({"pop": pop_base})
    out += v2group({"source_node_id": ds_base})
    out += ds_oh(data_addr)
    out += b"".join(struct.pack("<q", (5 * i + 1) % 97) for i in range(n))
    assert len(out) == eof, (len(out), eof)
    with open(path, "wb") as f:
        f.write(out)


def forge_chunked_multi(path, n=600):
    """A SONATA-shaped tree /edges/pop/{source_node_id, target_node_id,
    0/delay_ms} where EVERY edge column is CHUNKED, each with a
    different chunk size (128 / 100 / 250 elements — two edge chunks,
    one exact fit) and mixed dtypes (i64/i64/i32). Values are closed
    forms of the row index, so a DuckDB oracle reproduces the planned
    V2 source's decode bit-for-bit without reading HDF5:
        source_node_id = (7*i) % 50
        target_node_id = (3*i) % 40
        delay_ms       = (11*i) % 1000   (int32)
    Drives the round-14 chunked PLANNED read path: multi-split scans
    slice per-split chunk indexes; edge chunks are stored full-size
    with -1 filler past the extent (must never leak)."""
    cols = [  # (group-relative name, pack fmt, esize, chunk, value fn)
        ("source_node_id", "<q", 8, 128, lambda i: (7 * i) % 50),
        ("target_node_id", "<q", 8, 100, lambda i: (3 * i) % 40),
        ("delay_ms", "<i", 4, 250, lambda i: (11 * i) % 1000),
    ]

    def dtype_msg(esize):
        return datatype_i64le() if esize == 8 else datatype_i32le()

    def ds_oh(esize, chunk, cbt_addr):
        return object_header_v1([
            msg(0x0001, dataspace_v1([n])), msg(0x0003, dtype_msg(esize)),
            msg(0x0005, fill_v2()),
            msg(0x0008, layout_v3_chunked(1, cbt_addr, [chunk], esize))])

    # ---- address plan (probe lengths, then rebuild with real addrs) ----
    root_base = 96
    edges_base = root_base + len(group_block(root_base, {"edges": 0})[0])
    pop_base = edges_base + len(group_block(edges_base, {"pop": 0})[0])
    # pop members name-sorted: "0" < "source_node_id" < "target_node_id"
    pop_len = len(group_block(pop_base,
        {"0": 0, "source_node_id": 0, "target_node_id": 0})[0])
    zero_base = pop_base + pop_len
    zero_len = len(group_block(zero_base, {"delay_ms": 0})[0])
    cursor = zero_base + zero_len
    oh_addrs, cbt_addrs, chunk_addrs = [], [], []
    for name, fmt, esize, chunk, fn in cols:
        oh_addrs.append(cursor)
        cursor += len(ds_oh(esize, chunk, 0))
        nchunks = (n + chunk - 1) // chunk
        cbt_addrs.append(cursor)
        cursor += len(chunk_btree(1,
            [(chunk * esize, [i * chunk], 0) for i in range(nchunks)], [n]))
        addrs = [cursor + i * chunk * esize for i in range(nchunks)]
        chunk_addrs.append(addrs)
        cursor = addrs[-1] + chunk * esize
    eof = cursor

    out = bytearray()
    root, root_bt, root_heap = group_block(root_base, {"edges": edges_base})
    out += superblock_v0(root_base, eof, root_bt, root_heap)
    out += root
    out += group_block(edges_base, {"pop": pop_base})[0]
    out += group_block(pop_base, {"0": zero_base,
        "source_node_id": oh_addrs[0], "target_node_id": oh_addrs[1]})[0]
    out += group_block(zero_base, {"delay_ms": oh_addrs[2]})[0]
    for (name, fmt, esize, chunk, fn), cbt_addr, addrs in \
            zip(cols, cbt_addrs, chunk_addrs):
        nchunks = (n + chunk - 1) // chunk
        out += ds_oh(esize, chunk, cbt_addr)
        out += chunk_btree(1,
            [(chunk * esize, [i * chunk], addrs[i]) for i in range(nchunks)], [n])
        for c in range(nchunks):
            vals = [fn(c * chunk + j) if c * chunk + j < n else -1
                    for j in range(chunk)]
            out += b"".join(struct.pack(fmt, v) for v in vals)
    assert len(out) == eof, (len(out), eof)
    with open(path, "wb") as f:
        f.write(out)


def chunk_btree_l1(entries_per_leaf, entries, total_dims, base):
    """Spec III.A.1, node type 1 at LEVEL 1: an internal node whose
    children are level-0 leaf nodes. `entries` = (nbytes, offs, child)
    leaf entries laid out starting after the internal node at `base`.
    Returns (internal + leaves bytes, internal_addr)."""
    import math
    groups = [entries[i:i + entries_per_leaf]
              for i in range(0, len(entries), entries_per_leaf)]

    def key(nbytes, offs):
        return struct.pack("<II", nbytes, 0) + b"".join(
            struct.pack("<Q", o) for o in offs) + struct.pack("<Q", 0)

    def leaf(group, right_key_offs):
        b = b"TREE" + struct.pack("<BBHQQ", 1, 0, len(group), UNDEF, UNDEF)
        for nbytes, offs, child in group:
            b += key(nbytes, offs) + struct.pack("<Q", child)
        b += key(0, right_key_offs)
        return b

    # probe leaf sizes to place them after the internal node
    probes = [leaf(g, total_dims) for g in groups]
    internal_probe = (b"TREE" + struct.pack("<BBHQQ", 1, 1, len(groups), UNDEF, UNDEF)
                      + b"".join(key(g[0][0], g[0][1]) + struct.pack("<Q", 0)
                                 for g in groups)
                      + key(0, total_dims))
    leaf_addrs = []
    cur = base + len(internal_probe)
    for pr in probes:
        leaf_addrs.append(cur)
        cur += len(pr)
    internal = (b"TREE" + struct.pack("<BBHQQ", 1, 1, len(groups), UNDEF, UNDEF)
                + b"".join(key(groups[i][0][0], groups[i][0][1])
                           + struct.pack("<Q", leaf_addrs[i])
                           for i in range(len(groups)))
                + key(0, total_dims))
    assert len(internal) == len(internal_probe)
    out = internal
    for i, g in enumerate(groups):
        nxt = groups[i + 1][0][1] if i + 1 < len(groups) else total_dims
        out += leaf(g, nxt)
    return out, base


def forge_chunked_deep(path, n=24, chunk=3, leaf_entries=4):
    """Classic file whose 1-D int32 dataset 'data' (values 0..n-1) sits
    under a LEVEL-1 chunk B-tree: 8 chunks split across two level-0
    leaves below one internal node — exercises the reader's recursive
    descent, which the flat fixtures (single level-0 node) never do."""
    root_oh = 96
    root, root_bt, root_heap = group_block(root_oh, {"data": 0})
    gsize = len(root)
    ds_oh = root_oh + gsize
    nchunks = (n + chunk - 1) // chunk
    cbytes = chunk * 4
    ds_probe = object_header_v1([
        msg(0x0001, dataspace_v1([n])), msg(0x0003, datatype_i32le()),
        msg(0x0005, fill_v2()), msg(0x0008, layout_v3_chunked(1, 0, [chunk], 4))])
    cbt_addr = ds_oh + len(ds_probe)
    # chunk data lands after the whole btree (internal + 2 leaves)
    probe_entries = [(cbytes, [i * chunk], 0) for i in range(nchunks)]
    tree_probe, _ = chunk_btree_l1(leaf_entries, probe_entries, [n], cbt_addr)
    chunk_base = cbt_addr + len(tree_probe)
    entries = [(cbytes, [i * chunk], chunk_base + i * cbytes) for i in range(nchunks)]
    tree, _ = chunk_btree_l1(leaf_entries, entries, [n], cbt_addr)
    assert len(tree) == len(tree_probe)
    eof = chunk_base + nchunks * cbytes

    root, _, _ = group_block(root_oh, {"data": ds_oh})
    out = bytearray()
    out += superblock_v0(root_oh, eof, root_bt, root_heap)
    out += root
    out += object_header_v1([
        msg(0x0001, dataspace_v1([n])), msg(0x0003, datatype_i32le()),
        msg(0x0005, fill_v2()), msg(0x0008, layout_v3_chunked(1, cbt_addr, [chunk], 4))])
    out += tree
    for i in range(nchunks):
        vals = [i * chunk + j if i * chunk + j < n else -1 for j in range(chunk)]
        out += b"".join(struct.pack("<i", v) for v in vals)
    assert len(out) == eof, (len(out), eof)
    with open(path, "wb") as f:
        f.write(out)


if __name__ == "__main__":
    main()
