"""MySQL binlog v4 wire-format decode: writer→decoder roundtrip (pure
python), Spark decode feed, and end-to-end apply through the normal
MERGE path. The reference gets these events pre-decoded from go-mysql
(pkg/streams/mysql_stream.go:210-323); here the byte format itself is
parsed — only the replication transport stays a sandbox stand-in."""

import json
import struct

import pytest

from replicator_spark.sources.binlog import (
    MAGIC,
    BinlogWriter,
    TableSchema,
    decode_binlog,
    read_binlog_feed,
)

SCHEMA = TableSchema(
    db="appdb",
    table="files",
    columns=[("id", "long"), ("rev", "longlong"), ("name", "varchar")],
)


def _sample_writer():
    w = BinlogWriter(SCHEMA)
    w.write_rows([(1, 10, "a.txt"), (2, 20, "b.txt"), (3, 30, None)])
    w.xid(1)
    w.update_rows([((2, 20, "b.txt"), (2, 21, "b2.txt"))])
    w.delete_rows([(1, 10, "a.txt")])
    w.xid(2)
    return w


def test_roundtrip_decode_matches_written_events():
    w = _sample_writer()
    evs = decode_binlog(bytes(w.buf))
    assert [e["op"] for e in evs] == ["insert"] * 3 + ["update", "delete"]
    assert all(e["db"] == "appdb" and e["tbl"] == "files" for e in evs)
    assert evs[0]["after"] == (1, 10, "a.txt")
    assert evs[2]["after"] == (3, 30, None)  # NULL via the null bitmap
    assert evs[3]["before"] == (2, 20, "b.txt")
    assert evs[3]["after"] == (2, 21, "b2.txt")
    assert evs[4]["before"] == (1, 10, "a.txt")
    # log positions strictly increase (binlog order)
    pos = [e["log_pos"] for e in evs]
    assert pos == sorted(pos)
    # XID and FDE were skipped, not misparsed
    assert len(evs) == 5


def test_decode_rejects_garbage_and_handles_negative_ints():
    with pytest.raises(ValueError, match="magic"):
        decode_binlog(b"not a binlog")
    w = BinlogWriter(SCHEMA)
    w.write_rows([(-5, -(2**40), "neg")])
    ev = decode_binlog(bytes(w.buf))[0]
    assert ev["after"] == (-5, -(2**40), "neg")


def test_zero_padded_and_truncated_segments_raise():
    """A crash-torn segment (zero-padded tail or an event whose declared
    size runs past EOF) must fail loudly — a size<19 event would
    otherwise pin end_pos == off and spin the decode loop forever (in
    CRC mode crc32(b'') == 0 even matches the zeroed footer), and a
    past-EOF body would silently drop trailing rows."""
    w = _sample_writer()
    padded = bytes(w.buf) + b"\x00" * 64
    with pytest.raises(ValueError, match="malformed binlog event"):
        decode_binlog(padded)
    truncated = bytes(w.buf)[:-7]  # cut inside the last event's body
    with pytest.raises(ValueError, match="malformed binlog event"):
        decode_binlog(truncated)


def test_decode_crc32_checksummed_stream():
    """A 5.6+ stream with CRC32 checksums: 4 bytes trail every
    post-FDE event; the FDE's alg byte sits before its own CRC."""
    import zlib

    w = _sample_writer()
    raw = bytes(w.buf)
    # rebuild the stream with alg=1 + per-event CRCs
    out = bytearray(MAGIC)
    off = 4
    first = True
    while off < len(raw):
        ts, etype, srv, size, _lp, flags = struct.unpack_from("<IBIIIH", raw, off)
        body = raw[off + 19 : off + size]
        if first:
            body = body[:-1] + bytes([1])  # checksum_alg = CRC32
            first = False
        nsize = size + 4
        ev = struct.pack("<IBIIIH", ts, etype, srv, nsize, len(out) + nsize, flags) + body
        ev += struct.pack("<I", zlib.crc32(ev))
        out += ev
        off += size
    evs = decode_binlog(bytes(out))
    assert [e["op"] for e in evs] == ["insert"] * 3 + ["update", "delete"]
    assert evs[3]["after"] == (2, 21, "b2.txt")


def test_writer_native_crc32_roundtrip():
    """checksum='crc32' writer layout decodes identically; CRCs are
    verified per event."""
    w = BinlogWriter(SCHEMA, checksum="crc32")
    w.write_rows([(1, 10, "a.txt"), (2, 20, None)])
    w.xid(1)
    w.update_rows([((2, 20, None), (2, 21, "b.txt"))])
    evs = decode_binlog(bytes(w.buf))
    assert [e["op"] for e in evs] == ["insert", "insert", "update"]
    assert evs[2]["after"] == (2, 21, "b.txt")


def test_crc32_corruption_raises():
    w = BinlogWriter(SCHEMA, checksum="crc32")
    w.write_rows([(1, 10, "a.txt")])
    buf = bytearray(w.buf)
    buf[-10] ^= 0x40  # flip a bit inside the last event's body
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        decode_binlog(bytes(buf))


def test_fde_alg_detection_is_structural_not_tail_sniffed():
    """ADVICE r04: ~1/256 CRC32 files have an FDE checksum ending in
    0x00; tail-sniffing (body[-1]==0 → NONE) misdetected those and
    corrupted every later parse. Construct exactly that file (scan ts
    until the FDE CRC's low byte is 0x00) and require a clean decode."""
    ts = 1700000000
    while True:
        w = BinlogWriter(SCHEMA, ts=ts, checksum="crc32")
        fde_end = 4 + 19 + 57 + 40 + 1 + 4  # magic+hdr+fixed+array+alg+crc
        if w.buf[fde_end - 4] == 0:  # CRC little-endian: last body byte
            break
        ts += 1
    w.write_rows([(1, 10, "a.txt"), (2, 20, "b.txt")])
    w.delete_rows([(1, 10, "a.txt")])
    evs = decode_binlog(bytes(w.buf))
    assert [e["op"] for e in evs] == ["insert", "insert", "delete"]
    assert evs[1]["after"] == (2, 20, "b.txt")


def test_partial_row_image_raises_loudly():
    """ADVICE r04: binlog_row_image=MINIMAL partial images must raise,
    not silently bind values to the wrong columns."""
    w = BinlogWriter(SCHEMA)
    w.write_rows([(1, 10, "a.txt")])
    raw = bytearray(w.buf)
    # locate the WRITE_V2 event by walking declared sizes; its
    # present-column bitmap is the byte after post-header(10) + lenenc
    # ncols(1). Clear column 1's bit → MINIMAL-style partial image.
    off, write_off = 4, None
    while off + 19 <= len(raw):
        etype = raw[off + 4]
        size = struct.unpack_from("<I", raw, off + 9)[0]
        if etype == 30:
            write_off = off
        off += size
    bitmap_off = write_off + 19 + 10 + 1
    assert raw[bitmap_off] == 0xFF
    raw[bitmap_off] &= ~0x02
    with pytest.raises(ValueError, match="partial row image"):
        decode_binlog(bytes(raw))


def test_spark_binlog_feed_and_merge_roundtrip(spark, tmp_path):
    """Two rotated segments decode in parallel, normalize through
    from_mysql_rows, and apply through the standard MERGE — final table
    state equals the sequential oracle of the written events."""
    from pyspark.sql import functions as F

    from replicator_spark.sources.normalize import from_mysql_rows

    d = str(tmp_path / "binlog")
    w1 = BinlogWriter(SCHEMA)
    w1.write_rows([(i, i * 10, f"f{i}.txt") for i in range(1, 6)])
    w1.save(f"{d}/binlog.000001")
    w2 = BinlogWriter(SCHEMA)
    w2.update_rows([((2, 20, "f2.txt"), (2, 99, "f2-new.txt"))])
    w2.delete_rows([(3, 30, "f3.txt")])
    w2.write_rows([(6, 60, None)])
    w2.save(f"{d}/binlog.000002")

    feed = read_binlog_feed(spark, d)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # Arrow path only

    rows = from_mysql_rows(
        feed, [n for n, _t in SCHEMA.columns]
    ).orderBy("seq").collect()
    assert len(rows) == 8
    # segment 2's seqs all rank above segment 1's (rotation order)
    segs = [r["seq"] >> 32 for r in rows]
    assert segs == sorted(segs) and set(segs) == {1, 2}

    # fold LWW by id: final state must match a sequential apply
    state = {}
    for r in rows:
        doc = json.loads(r["doc"])
        key = doc["id"]
        if r["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = doc
    assert set(state) == {"1", "4", "5", "2", "6"}
    assert state["2"]["name"] == "f2-new.txt" and state["2"]["rev"] == "99"
    # NULL column: to_json omits null fields (JSON-absent ≡ null is the
    # engine's documented partial/null convention)
    assert state["6"].get("name") is None
    # numbers survive as their literal text through the positional
    # array decode (from_json string capture), like the parquet feed
    assert state["1"] == {"id": "1", "rev": "10", "name": "f1.txt"}


def test_streaming_binlog_wire_replication_exactly_once(spark, tmp_path):
    """End-to-end MySQL replica tail over REAL binlog v4 bytes as a
    Structured Streaming source: decode → normalize → MERGE with
    per-segment micro-batches, checkpoint resume across a restart when
    a new segment lands, and idempotent replay (re-running the drained
    stream applies nothing)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from replicator_spark.laketable import LakeTable
    from replicator_spark.sources.normalize import from_mysql_rows

    d = str(tmp_path / "binlog")
    w1 = BinlogWriter(SCHEMA)
    w1.write_rows([(i, i * 10, f"f{i}.txt") for i in range(1, 6)])
    w1.save(f"{d}/binlog.000001")

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("rev", T.StringType()),
                T.StructField("name", T.StringType()),
            ]
        ),
        num_buckets=4,
        key_cols=("id",),
    )
    cols = [n for n, _t in SCHEMA.columns]
    ckpt = str(tmp_path / "ckpt")
    applied_keys = []

    def run_tail():
        from replicator_spark.sources.binlog import read_binlog_feed

        feed = read_binlog_feed(spark, d, streaming=True)

        def apply(df, epoch_id):
            batch = from_mysql_rows(df, cols).select(
                F.get_json_object("doc", "$.id").alias("id"),
                F.get_json_object("doc", "$.rev").alias("rev"),
                F.get_json_object("doc", "$.name").alias("name"),
                "seq",
                "op",
            )
            st = table.merge(batch, f"binlog-{epoch_id}",
                             key_cols=("id",))
            applied_keys.append((st.batch_key, st.applied, st.replayed))

        q = (
            feed.writeStream.foreachBatch(apply)
            .option("checkpointLocation", ckpt)
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_tail()
    assert table.read().count() == 5

    # replica keeps tailing: a rotation lands a second segment; restart
    # resumes from the checkpoint and processes ONLY the new file
    w2 = BinlogWriter(SCHEMA)
    w2.update_rows([((2, 20, "f2.txt"), (2, 99, "f2-new.txt"))])
    w2.delete_rows([(3, 30, "f3.txt")])
    w2.write_rows([(6, 60, None)])
    w2.save(f"{d}/binlog.000002")
    n_before = len(applied_keys)
    run_tail()
    assert len(applied_keys) == n_before + 1  # only the new segment

    live = {r["id"]: r for r in table.read().collect()}
    assert set(live) == {"1", "2", "4", "5", "6"}  # 3 deleted
    assert live["2"]["rev"] == "99" and live["2"]["name"] == "f2-new.txt"
    assert live["6"]["name"] is None
    version = table._snap().version

    # drained replay: no new batches, no version movement, no dup rows
    run_tail()
    assert table._snap().version == version
    assert table.read().count() == 5
