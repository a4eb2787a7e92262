"""Pipeline-operator quality tests: ANN recall vs brute force, SimHash hamming
on known near-dups, multimodal stub gating."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_1_12_0_src_spark.catalog import table
from flink_1_12_0_src_spark.pipeline import minhash_lsh_pairs, simhash_signatures
from flink_1_12_0_src_spark.pipeline.multimodal import decode_image
from flink_1_12_0_src_spark.queries import load_all

# Mean recall@5 floor of each registered knn_*_recall query. IVF probes 2 of
# 4 lists; sign-LSH collides a moderately close neighbor in some of its 8
# bands of 3 bits; PQ re-ranks a 64-candidate ADC shortlist exactly.
RECALL_FLOORS = {"knn_ivf_recall": 0.6, "knn_lsh_recall": 0.7, "knn_pq_recall": 0.7}


@pytest.mark.parametrize("name", sorted(RECALL_FLOORS))
def test_ann_recall_vs_brute_force(spark, sf_dir, name):
    reg = load_all()
    assert sorted(RECALL_FLOORS) == sorted(
        n for n in reg if n.startswith("knn_") and n.endswith("_recall")
    )
    rows = reg[name].spark(spark, sf_dir).collect()
    assert len(rows) == 20  # one row per query vector
    recall = sum(r["recall"] for r in rows) / len(rows)
    assert recall >= RECALL_FLOORS[name], f"{name}: mean recall@5 {recall:.2f}"


def test_simhash_close_for_minhash_neardups(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sig = simhash_signatures(docs, "doc_id", "text")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").filter(F.col("est_jaccard") >= 0.9)
    sigs = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    checked = 0
    for r in pairs.collect():
        h = sum(c1 != c2 for c1, c2 in zip(sigs[r["id_a"]], sigs[r["id_b"]]))
        assert h <= 16, f"near-dup pair ({r['id_a']},{r['id_b']}) hamming={h}"
        checked += 1
    assert checked > 0, "expected some high-jaccard pairs in the fixture"


def test_paragraph_dedup_flags_shared_boilerplate(spark):
    """Two docs sharing an identical 16-token boilerplate block are flagged
    on exactly that paragraph; a fully unique doc reports 0; within-doc
    repetition alone does NOT count (cross-doc only)."""
    from flink_1_12_0_src_spark.pipeline.dedup import paragraph_dedup_report

    boiler = " ".join(f"b{i}" for i in range(16))  # one exact paragraph block
    u = lambda tag: " ".join(f"{tag}{i}" for i in range(16))  # noqa: E731
    rows = [
        (1, boiler + " " + u("x")),   # 2 paragraphs: boiler + unique
        (2, boiler + " " + u("y")),   # 2 paragraphs: boiler + unique
        (3, u("z") + " " + u("w")),   # 2 unique paragraphs
        (4, u("r") + " " + u("r")),   # same block TWICE within ONE doc
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_paragraphs"], r["n_dup_paragraphs"], r["dup_frac"])
        for r in paragraph_dedup_report(docs, block=16).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (2, 0, 0.0)
    assert got[4] == (2, 0, 0.0)  # within-doc repetition is not cross-doc dup


def test_minhash_estimates_match_exact_jaccard_direction(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    assert len(pairs) > 0
    assert all(0.0 <= r["est_jaccard"] <= 1.0 for r in pairs)
    assert any(r["est_jaccard"] == 1.0 for r in pairs), "planted exact near-dups exist"


def test_lsh_hot_bucket_cap_bounds_candidate_pairs(spark):
    """Boilerplate skew guard: a corpus where 60 docs share one identical
    boilerplate text would produce 60·59/2 = 1770 candidate pairs per band
    without the cap. With max_bucket below the clone count, every boilerplate
    bucket is dropped, the clone pairs vanish, and the genuinely-near distinct
    pairs (small buckets) survive."""
    boiler = "terms of service apply to all content on this site please read carefully"
    rows = [(i, boiler) for i in range(60)]
    rows += [(100 + i, f"unique document number {i} about topic alpha beta gamma delta") for i in range(5)]
    # one planted small near-dup group (2 ids → bucket size 2, under any sane cap)
    rows += [(200, "the quick brown fox jumps over the lazy dog again and again"),
             (201, "the quick brown fox jumps over the lazy dog again and again")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=None)
    n_uncapped = uncapped.count()
    assert n_uncapped >= 1770, f"fixture should be quadratic uncapped, got {n_uncapped}"

    capped = minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert all(not (a < 60 and b < 60) for a, b in got), "boilerplate bucket leaked pairs"
    assert (200, 201) in got, "small-bucket near-dup pair must survive the cap"
    # fan-out bound: every surviving bucket ≤ cap → pairs ≤ n_buckets·cap²/2
    assert len(got) < n_uncapped / 10


def test_multimodal_decode_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def _py_image_blob(i: int) -> bytes:
    """Third implementation of the header fixture (pure-Python struct
    packing) — independent of both the Spark expressions and the DuckDB
    oracle CTEs, so a shared layout mistake can't self-verify."""
    import struct

    w, h, f = 16 + (i * 37) % 2048, 16 + (i * 53) % 2048, i % 5
    if f == 0:  # PNG signature + IHDR (RGBA8), placeholder CRC
        return (
            b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 0])
            + bytes.fromhex("5AA5C3D2")
        )
    if f == 1:  # GIF89a logical screen descriptor
        return b"GIF89a" + struct.pack("<HH", w, h) + bytes([0xF7, 0, 0])
    if f == 3:  # JPEG: SOI, 1-4 var-length APPn/COM segments, SOF0/SOF2
        markers = [0xE0, 0xE1, 0xFE, 0xED]
        out = b"\xff\xd8"
        for k in range(1 + (i // 4) % 4):
            pay = 2 + (i * 13 + k * 7) % 29
            out += bytes([0xFF, markers[k]]) + struct.pack(">H", pay + 2) + b"\x4a" * pay
        ncomp = 1 if i % 9 < 3 else 3
        sof = 0xC2 if i % 3 == 1 else 0xC0
        out += bytes([0xFF, sof]) + struct.pack(">H", 8 + 3 * ncomp)
        out += bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
        for c in range(1, ncomp + 1):
            out += bytes([c, 0x11, 0x00])
        return out
    if f == 4:  # WebP: RIFF wrapper + VP8 / VP8L / VP8X first chunk
        variant, alpha = (i // 5) % 3, i % 2
        if variant == 0:  # lossy VP8: frame tag, start code, 14-bit LE dims
            data = b"\x30\x01\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
            cc = b"VP8 "
        elif variant == 1:  # lossless VP8L: 2F + packed w-1/h-1/alpha LE32
            packed = (w - 1) | ((h - 1) << 14) | (alpha << 28)
            data = b"\x2f" + struct.pack("<I", packed)
            cc = b"VP8L"
        else:  # extended VP8X: flags + reserved + 24-bit LE canvas-1 dims
            data = (
                bytes([0x10 * alpha]) + b"\x00\x00\x00"
                + struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
            )
            cc = b"VP8X"
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(data)) + b"WEBP"
            + cc + struct.pack("<I", len(data)) + data
        )
    row = (w * 3 + 3) // 4 * 4  # 24bpp rows padded to 4 bytes
    img = row * h
    return (
        b"BM" + struct.pack("<I", 54 + img) + b"\x00\x00\x00\x00"
        + struct.pack("<I", 54) + struct.pack("<I", 40) + struct.pack("<ii", w, h)
        + struct.pack("<HH", 1, 24) + struct.pack("<I", 0) + struct.pack("<I", img)
        + struct.pack("<ii", 2835, 2835) + struct.pack("<II", 0, 0)
    )


def test_image_header_synth_matches_python_struct(spark):
    """The Spark fixture emits byte-identical real container headers to the
    struct-packed reference, across all 4 formats, multi-byte widths, and
    every (segment count, component count, SOF marker) JPEG variant."""
    from flink_1_12_0_src_spark.pipeline.multimodal import synth_image_blobs

    ids = spark.range(0, 80).withColumnRenamed("id", "doc_id")
    blobs = {r["doc_id"]: bytes(r["blob"]) for r in synth_image_blobs(ids).collect()}
    assert len(blobs) == 80
    for i in range(80):
        assert blobs[i] == _py_image_blob(i), f"doc {i} blob mismatch"


def _py_wav_blob(i: int) -> bytes:
    """Struct-packed third implementation of the WAV fixture."""
    import struct

    ch, bits = 1 + i % 2, 8 * (1 + i % 3)
    rate = [8000, 16000, 22050, 44100, 48000][i % 5]
    nf = 1000 + (i * 31) % 50000
    ba = ch * bits // 8
    ds = nf * ba
    return (
        b"RIFF" + struct.pack("<I", 36 + ds) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ba, ba, bits)
        + b"data" + struct.pack("<I", ds)
    )


def _py_mp4_blob(i: int) -> bytes:
    """Struct-packed third implementation of the MP4 fixture (ftyp of
    varying size + moov/mvhd v0)."""
    import struct

    nc = 1 + i % 3
    brands = [b"isom", b"mp42", b"avc1"]
    ts = [600, 1000, 24000, 90000][i % 4]
    dur = ts + (i * 773) % 100000
    ftyp_body = brands[i % 3] + struct.pack(">I", 0x200) + b"".join(brands[:nc])
    ftyp = struct.pack(">I", 8 + len(ftyp_body)) + b"ftyp" + ftyp_body
    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = (
        struct.pack(">I", 108) + b"mvhd" + struct.pack(">IIIII", 0, 0, 0, ts, dur)
        + struct.pack(">IHH", 0x10000, 0x100, 0) + struct.pack(">II", 0, 0)
        + matrix + struct.pack(">6I", 0, 0, 0, 0, 0, 0) + struct.pack(">I", 2)
    )
    return ftyp + struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd


def test_av_header_synth_matches_python_struct(spark):
    """The WAV and MP4 fixtures emit byte-identical containers to the
    struct-packed references across channel/rate/brand/timescale variants."""
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        synth_mp4_blobs,
        synth_wav_blobs,
    )

    ids = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    wavs = {r["doc_id"]: bytes(r["blob"]) for r in synth_wav_blobs(ids).collect()}
    mp4s = {r["doc_id"]: bytes(r["blob"]) for r in synth_mp4_blobs(ids).collect()}
    for i in range(24):
        assert wavs[i] == _py_wav_blob(i), f"wav {i} mismatch"
        assert mp4s[i] == _py_mp4_blob(i), f"mp4 {i} mismatch"


def test_av_header_parse_from_bytes_alone(spark):
    """parse_wav_headers / parse_mp4_headers recover metadata from BYTES,
    including hand-built containers off the fixture grid (a 6-channel
    96 kHz float-width WAV; an MP4 with five compatible brands, shifting
    the moov offset the box walk must follow) and unknown magics."""
    import struct

    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_mp4_headers,
        parse_wav_headers,
    )

    ch, rate, bits, nf = 6, 96000, 32, 96000  # exactly 1 s
    ba = ch * bits // 8
    wav = (
        b"RIFF" + struct.pack("<I", 36 + nf * ba) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ba, ba, bits)
        + b"data" + struct.pack("<I", nf * ba)
    )
    # magic-valid but malformed: zero block align / byte rate must yield
    # NULL frames/duration, not an ANSI divide-by-zero job failure
    broken = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 0, 0, 0, 0, 0)
        + b"data" + struct.pack("<I", 0)
    )
    dfw = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"NOTAWAVE" + b"\x00" * 36)),
         (3, bytearray(broken))],
        "doc_id long, blob binary",
    )
    got = {r["doc_id"]: r.asDict() for r in parse_wav_headers(dfw).collect()}
    assert (
        got[1]["fmt"], got[1]["channels"], got[1]["sample_rate"],
        got[1]["bits_per_sample"], got[1]["n_frames"], got[1]["duration_ms"],
    ) == ("wav", 6, 96000, 32, 96000, 1000)
    assert got[2]["fmt"] == "unknown" and got[2]["channels"] is None
    assert got[3]["fmt"] == "wav" and got[3]["n_frames"] is None
    assert got[3]["duration_ms"] is None

    brands = b"isomiso2mp41mp42avc1"  # 5 compat brands -> ftyp size 36
    ftyp = struct.pack(">I", 16 + 20) + b"ftyp" + b"mp42" + struct.pack(">I", 0) + brands
    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = (
        struct.pack(">I", 108) + b"mvhd" + struct.pack(">IIIII", 0, 0, 0, 48000, 120000)
        + struct.pack(">IHH", 0x10000, 0x100, 0) + struct.pack(">II", 0, 0)
        + matrix + struct.pack(">6I", 0, 0, 0, 0, 0, 0) + struct.pack(">I", 2)
    )
    mp4 = ftyp + struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    dfm = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(b"\x00\x00\x00\x08free"))],
        "doc_id long, blob binary",
    )
    got = {r["doc_id"]: r.asDict() for r in parse_mp4_headers(dfm).collect()}
    assert (
        got[1]["fmt"], got[1]["major_brand"], got[1]["n_compat_brands"],
        got[1]["timescale"], got[1]["duration_ticks"], got[1]["duration_ms"],
    ) == ("mp4", "mp42", 5, 48000, 120000, 2500)
    assert got[2]["fmt"] == "unknown" and got[2]["timescale"] is None


def test_image_header_parse_from_bytes_alone(spark):
    """parse_image_headers recovers dims from the BYTES, including hand-built
    headers the fixture formula never emits (PNG >65535 wide, RGB16; GIF with
    a different GCT depth) and an unknown magic."""
    import struct

    from flink_1_12_0_src_spark.pipeline.multimodal import parse_image_headers

    png_rgb16 = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 70000, 3) + bytes([16, 2, 0, 0, 0]) + b"\x00" * 4
    )
    gif_small = b"GIF89a" + struct.pack("<HH", 4095, 1) + bytes([0xF2, 0, 0])
    # JPEG off the fixture grid: SOF1 (extended sequential — never emitted
    # by the fixture), 12-bit precision, 4 components, behind a 180-byte
    # APP1 segment (longer than any fixture segment)
    jpeg_sof1 = (
        b"\xff\xd8"
        + b"\xff\xe1" + struct.pack(">H", 180 + 2) + b"\x00" * 180
        + b"\xff\xc1" + struct.pack(">H", 8 + 3 * 4)
        + bytes([12]) + struct.pack(">HH", 99, 321) + bytes([4])
        + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00\x04\x11\x00"
    )
    # JPEG whose SOF sits past the walk budget: 9 segments of 20 bytes each
    # -> fmt sniffs but dims are NULL (the documented envelope, not a wrong
    # answer)
    jpeg_deep = b"\xff\xd8" + (
        b"\xff\xe0" + struct.pack(">H", 20) + b"\x00" * 18
    ) * 9 + (
        b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 10, 10)
        + bytes([1, 1, 0x11, 0])
    )
    # WebP off the fixture grid: a VP8L at the 14-bit dimension ceiling with
    # the alpha bit set (16384x10 ARGB), and a WebP whose first chunk is
    # ANIM — valid container, but dimensions are not in the first chunk, so
    # dims must come back NULL rather than misread
    webp_l = (
        b"RIFF" + struct.pack("<I", 17) + b"WEBP" + b"VP8L" + struct.pack("<I", 5)
        + b"\x2f" + struct.pack("<I", 16383 | (9 << 14) | (1 << 28))
    )
    webp_anim = (
        b"RIFF" + struct.pack("<I", 16) + b"WEBP" + b"ANIM"
        + struct.pack("<I", 4) + b"\x00" * 4
    )
    rows = [
        (1, bytearray(png_rgb16)),
        (2, bytearray(gif_small)),
        (3, bytearray(_py_image_blob(7))),  # BMP (7 % 5 == 2)
        (4, bytearray(b"JUNKJUNKJUNK")),
        (5, bytearray(jpeg_sof1)),
        (6, bytearray(jpeg_deep)),
        (7, bytearray(webp_l)),
        (8, bytearray(webp_anim)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r.asDict() for r in parse_image_headers(df).collect()}
    assert (got[1]["fmt"], got[1]["width"], got[1]["height"], got[1]["bpp"]) == (
        "png", 70000, 3, 48)  # bit depth 16 x 3 channels (color type 2)
    assert (got[2]["fmt"], got[2]["width"], got[2]["height"], got[2]["bpp"]) == (
        "gif", 4095, 1, 3)  # packed 0xF2 -> GCT size 2 -> 3 bpp
    w7, h7 = 16 + 7 * 37, 16 + 7 * 53
    assert (got[3]["fmt"], got[3]["width"], got[3]["height"], got[3]["bpp"]) == (
        "bmp", w7, h7, 24)
    assert got[4]["fmt"] == "unknown" and got[4]["width"] is None
    assert (got[5]["fmt"], got[5]["width"], got[5]["height"], got[5]["bpp"]) == (
        "jpeg", 321, 99, 48)  # 12-bit precision x 4 components
    assert got[6]["fmt"] == "jpeg" and got[6]["width"] is None
    assert (got[7]["fmt"], got[7]["width"], got[7]["height"], got[7]["bpp"]) == (
        "webp", 16384, 10, 32)  # VP8L dimension ceiling + alpha
    assert got[8]["fmt"] == "webp" and got[8]["width"] is None
    assert got[4]["n_bytes"] == 12
    # top-down DIB: BITMAPINFOHEADER height is SIGNED; -600 means 600 rows
    # stored top-first — dimensions must come back as magnitudes
    topdown = (
        b"BM" + struct.pack("<I", 54) + b"\x00\x00\x00\x00" + struct.pack("<I", 54)
        + struct.pack("<I", 40) + struct.pack("<ii", 800, -600)
        + struct.pack("<HH", 1, 24) + b"\x00" * 24
    )
    df2 = spark.createDataFrame([(7, bytearray(topdown))], "doc_id long, blob binary")
    r7 = parse_image_headers(df2).collect()[0]
    assert (r7["fmt"], r7["width"], r7["height"], r7["bpp"]) == ("bmp", 800, 600, 24)


def test_header_parse_bounded_prefix_on_multi_kb_blobs(spark):
    """The parsers hex only a fixed prefix (IMG/WAV/MP4_SCAN_BYTES), so a
    production-size blob — real header + multi-KB payload tail — parses
    identically to the bare header and never amplifies the payload through
    the projection (verdict r13 task #3's 'done' test)."""
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_image_headers,
        parse_mp4_headers,
        parse_wav_headers,
    )

    tail = bytes(range(256)) * 40  # 10 KiB of junk "payload"
    img_rows = [(i, bytearray(_py_image_blob(i) + tail)) for i in range(8)]
    dfi = spark.createDataFrame(img_rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r.asDict() for r in parse_image_headers(dfi).collect()}
    for i in range(8):
        w, h = 16 + (i * 37) % 2048, 16 + (i * 53) % 2048
        assert got[i]["width"] == w and got[i]["height"] == h, f"doc {i}"
        assert got[i]["n_bytes"] == len(_py_image_blob(i)) + len(tail)
    wav_rows = [(i, bytearray(_py_wav_blob(i) + tail)) for i in range(4)]
    dfw = spark.createDataFrame(wav_rows, "doc_id long, blob binary")
    gotw = {r["doc_id"]: r.asDict() for r in parse_wav_headers(dfw).collect()}
    for i in range(4):
        assert gotw[i]["fmt"] == "wav" and gotw[i]["channels"] == 1 + i % 2
    mp4_rows = [(i, bytearray(_py_mp4_blob(i) + tail)) for i in range(4)]
    dfm = spark.createDataFrame(mp4_rows, "doc_id long, blob binary")
    gotm = {r["doc_id"]: r.asDict() for r in parse_mp4_headers(dfm).collect()}
    for i in range(4):
        assert gotm[i]["fmt"] == "mp4"
        assert gotm[i]["timescale"] == [600, 1000, 24000, 90000][i % 4]


def test_exploded_shingles_rejects_colliding_carry_names(spark):
    """Carry columns may not reuse the internal aliases (_w, _g), the output
    alias (sh), or each other's names."""
    from flink_1_12_0_src_spark.pipeline.text import exploded_shingles

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    for carry in (
        [F.col("doc_id").alias("_w")],
        [F.col("doc_id").alias("_g")],
        [F.col("doc_id").alias("sh")],
        ["doc_id", F.col("text").alias("doc_id")],
    ):
        with pytest.raises(ValueError, match="carry columns"):
            exploded_shingles(docs, "text", 2, carry=carry)
    ok = exploded_shingles(docs, "text", 2, carry=["doc_id"])
    assert [tuple(r) for r in ok.collect()] == [(1, "a b"), (1, "b c"), (1, "c d")]


def test_ngram_hot_shingle_cap_bounds_intersect_join(spark):
    """Stop-shingle skew guard: 80 docs in one block all share the bigram
    "of the" — 80·79/2 = 3160 intersect-join rows from that one shingle
    without the cap. With the per-block document-frequency cap below 80 the
    ubiquitous shingle drops out of the shingle space, while a planted
    near-dup pair built from rare shingles keeps its (high) Jaccard."""
    from flink_1_12_0_src_spark.pipeline.dedup import ngram_jaccard_pairs

    rows = [(i, f"of the item{i} thing{i} widget{i} gadget{i}", "en") for i in range(80)]
    rows += [(200, "zebra quagga okapi tapir bongo eland kudu nyala", "en"),
             (201, "zebra quagga okapi tapir bongo eland kudu nyala", "en")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    uncapped = ngram_jaccard_pairs(
        docs, "doc_id", "text", "lang", 2, 0.0, max_shingle_freq=None
    )
    assert uncapped.count() >= 3160, "fixture should be quadratic uncapped"

    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", "lang", 2, 0.0, max_shingle_freq=10
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert all(not (a < 80 and b < 80) for a, b in got), "hot shingle leaked pairs"
    assert got.get((200, 201)) == 1.0, "rare-shingle near-dup pair must survive"


def test_embedding_neardup_block_cap_bounds_pairs(spark):
    """Hot-block guard: one degenerate block of 50 vectors (an over-full IVF
    list) would contribute 50·49/2 all-pairs cosines; with max_block below 50
    the block is dropped entirely while small blocks still pair."""
    from flink_1_12_0_src_spark.pipeline.dedup import embedding_neardup_pairs

    rows = [(i, [1.0, 0.0, 0.0], "hot") for i in range(50)]
    rows += [(100, [0.0, 1.0, 0.0], "cold"), (101, [0.0, 1.0, 0.0], "cold")]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label string")

    uncapped = embedding_neardup_pairs(
        emb, "vec_id", "embedding", "label", 0.5, max_block=None
    )
    assert uncapped.count() == 50 * 49 // 2 + 1

    capped = embedding_neardup_pairs(
        emb, "vec_id", "embedding", "label", 0.5, max_block=10
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}, "hot block must drop, small block must survive"


def test_bloom_membership_has_no_false_negatives(spark):
    """THE Bloom invariant: an element that IS in the corpus always tests
    maybe_member=True. Planted exact duplicates (the real documents table has
    none across the parity split) must all come back positive."""
    from flink_1_12_0_src_spark.pipeline.dedup import bloom_membership

    corpus = spark.createDataFrame(
        [(i, f"doc body number {i} with shared words") for i in range(0, 200, 2)],
        ["doc_id", "text"],
    )
    # probes: odd ids, half of them exact copies of corpus texts
    probes = spark.createDataFrame(
        [(i + 1, f"doc body number {i} with shared words") for i in range(0, 100, 2)]
        + [(i + 1, f"unique probe {i} never seen before") for i in range(100, 200, 2)],
        ["doc_id", "text"],
    )
    out = bloom_membership(corpus, probes, "doc_id", "text", 4, 2).collect()
    for r in out:
        if r["actual_member"]:
            assert r["maybe_member"], f"false negative at doc_id={r['doc_id']}"
        assert r["false_positive"] == (r["maybe_member"] and not r["actual_member"])
    assert sum(r["actual_member"] for r in out) == 50


def test_decontaminate_flags_planted_overlap(spark):
    from flink_1_12_0_src_spark.pipeline.dedup import decontaminate

    bench = spark.createDataFrame(
        [(0, "the secret eval answer is forty two")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "clean document about spark joins and windows here"),
            (2, "contains the secret eval answer is forty two verbatim"),
            (3, "short doc"),  # < k tokens → no shingles → excluded
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in decontaminate(train, bench, "doc_id", "text", 3).collect()}
    assert rows[2]["contaminated"] and rows[2]["n_hit"] >= 4
    assert not rows[1]["contaminated"] and rows[1]["n_hit"] == 0
    assert 3 not in rows


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must reach the corpus scan as a broadcast
    hash join — a shuffle of corpus shingles against the bench set would be
    the 100 TB bottleneck."""
    from flink_1_12_0_src_spark.pipeline.dedup import decontaminate

    docs = table(spark, sf_dir, "documents")
    plan = decontaminate(
        docs.filter(F.col("doc_id") % 41 != 0),
        docs.filter(F.col("doc_id") % 41 == 0),
        "doc_id",
        "text",
        3,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_score_order_and_query_filter_pushdown(spark, sf_dir):
    from flink_1_12_0_src_spark.pipeline.text import bm25_topk

    docs = table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", ["spark", "join", "window"], 10).collect()
    assert len(out) == 10
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert [r["rk"] for r in out] == list(range(1, 11))


def test_repetition_signals_flags_stuffed_doc(spark):
    from flink_1_12_0_src_spark.pipeline.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now buy now"),
            (2, "a perfectly ordinary sentence with distinct varied words"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_signals(df, "doc_id", "text").collect()}
    assert rows[1]["repetitive"] and rows[1]["dup_bigram_frac"] > 0.5
    assert not rows[2]["repetitive"]


def test_duplicated_spans_flags_planted_substring(spark):
    from flink_1_12_0_src_spark.pipeline.dedup import duplicated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, shared + " unique one tail here now extra pad"),
        (2, "front matter words differ " + shared),
        (3, "completely different text with no common span at all ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(df, "doc_id", "text", window=8).collect()
    }
    # docs 1 and 2 share exactly one 8-token window; doc 3 shares nothing
    assert out[1]["dup_windows"] == 1 and out[2]["dup_windows"] == 1
    assert out[1]["dup_tokens"] == 8 and out[2]["dup_tokens"] == 8
    assert out[3]["dup_windows"] == 0 and out[3]["dup_frac"] == 0.0
    assert abs(out[1]["dup_frac"] - 8 / out[1]["n_tokens"]) < 1e-12


def test_duplicated_spans_overlapping_windows_coverage_not_double_counted(spark):
    from flink_1_12_0_src_spark.pipeline.dedup import duplicated_spans

    # ten identical tokens → three shared 8-windows in both docs, but coverage
    # is the distinct union (10 tokens), not 3×8
    t = " ".join(["tok"] * 10)
    df = spark.createDataFrame([(1, t + " xx yy"), (2, "aa " + t)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in duplicated_spans(df, "doc_id", "text", window=8).collect()}
    assert out[1]["dup_windows"] == 3
    assert out[1]["dup_tokens"] == 10
    assert out[2]["dup_tokens"] == 10


def test_temperature_sample_rebalances_toward_uniform(spark):
    from flink_1_12_0_src_spark.pipeline.sampling import temperature_sample

    # 1600 docs in 'big', 100 in 'small' → keep_p(big)=sqrt(100/1600)=0.25,
    # keep_p(small)=1. Expected kept: ~400 vs exactly 100.
    rows = [(i, "big" if i < 1600 else "small") for i in range(1700)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    kept = temperature_sample(df, "doc_id", "grp", seed=7).groupBy("grp").count()
    got = {r["grp"]: r["count"] for r in kept.collect()}
    assert got["small"] == 100  # smallest group keeps everything
    assert 300 <= got["big"] <= 500  # binomial(1600, 0.25), generous bound


def test_temperature_sample_is_deterministic_and_partition_invariant(spark):
    from flink_1_12_0_src_spark.pipeline.sampling import temperature_sample

    rows = [(i, f"g{i % 3}") for i in range(300)]
    df1 = spark.createDataFrame(rows, ["doc_id", "grp"])
    df2 = spark.createDataFrame(rows, ["doc_id", "grp"]).repartition(13)
    a = sorted(r["doc_id"] for r in temperature_sample(df1, "doc_id", "grp").collect())
    b = sorted(r["doc_id"] for r in temperature_sample(df2, "doc_id", "grp").collect())
    assert a == b


def test_unigram_logppl_scores_rare_tokens_higher(spark):
    from flink_1_12_0_src_spark.pipeline.text import unigram_logprob

    rows = [
        (1, "common common common common"),
        (2, "common common rare1 rare2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["avg_nll"] for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert out[2] > out[1]  # rare tokens → higher surprise
    assert out[1] > 0


def test_embedding_neardup_np_equals_expression_path(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table as cat_table
    from flink_1_12_0_src_spark.pipeline.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_np,
    )

    emb = cat_table(spark, sf_dir, "embeddings")
    expr = sorted(
        map(tuple, embedding_neardup_pairs(emb, "vec_id", "embedding", "label", 0.3).collect())
    )
    vec = sorted(
        map(tuple, embedding_neardup_pairs_np(emb, "vec_id", "embedding", "label", 0.3).collect())
    )
    assert expr == vec


def test_temperature_sample_smallest_group_keeps_boundary_hash(spark):
    from flink_1_12_0_src_spark.pipeline.sampling import temperature_sample

    # single group → keep_p = 1 → EVERY row survives, even one whose md5
    # prefix would be 'ffffffff' (sentinel threshold 'g' sorts above all hex)
    rows = [(i, "only") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    assert temperature_sample(df, "doc_id", "grp").count() == 500


def test_token_entropy_orders_repetitive_below_diverse(spark):
    import math

    from flink_1_12_0_src_spark.pipeline.text import token_entropy

    rows = [
        (1, "a a a a a a a a"),          # one token → H = 0
        (2, "a b a b a b a b"),          # two tokens 50/50 → H = ln 2
        (3, "a b c d e f g h"),          # uniform 8 → H = ln 8
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["entropy"] for r in token_entropy(df, "doc_id", "text").collect()}
    assert out[1] == 0.0
    assert abs(out[2] - math.log(2)) < 1e-6
    assert abs(out[3] - math.log(8)) < 1e-6
    assert out[1] < out[2] < out[3]


def test_pq_deterministic_across_runs(spark, sf_dir):
    from flink_1_12_0_src_spark.pipeline.similarity import pq_fit_exact, pq_topk_exact

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    r1 = sorted(map(tuple, pq_topk_exact(emb, q, pq_fit_exact(emb), k=5).collect()))
    spread = emb.repartition(7)
    r2 = sorted(
        map(tuple, pq_topk_exact(spread, q, pq_fit_exact(spread), k=5).collect())
    )
    assert len(r1) == 25
    assert r1 == r2


def test_neardup_pairs_np_has_no_eval_type_warning(spark):
    """The grouped-map function of embedding_neardup_pairs_np carries no
    partial type hints, so applyInPandas does not warn that PySpark
    cannot infer its eval type."""
    import warnings

    from flink_1_12_0_src_spark.pipeline.dedup import embedding_neardup_pairs_np

    vecs = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.1]), (3, 1, [0.0, 1.0])],
        "vec_id bigint, blk int, embedding array<double>",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = embedding_neardup_pairs_np(vecs, "vec_id", "embedding", "blk", 0.9)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]
    assert not [w for w in caught if "eval type" in str(w.message)]


def test_semantic_prune_invariants(spark, sf_dir):
    """Greedy min-id prune rule invariants: (1) a vector is pruned iff some
    LOWER-id vector in its cluster clears the threshold with it; (2) the
    lowest id of every cluster is always kept; (3) output covers every input
    vector exactly once."""
    from flink_1_12_0_src_spark.pipeline.dedup import (
        embedding_neardup_pairs_np,
        semantic_prune,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").alias("cluster")
    )
    out = semantic_prune(emb, "vec_id", "embedding", "cluster", 0.3).collect()
    assert len(out) == emb.count()
    kept = {r["vec_id"]: r["kept"] for r in out}
    cluster_of = {r["vec_id"]: r["cluster"] for r in out}
    pairs = embedding_neardup_pairs_np(
        emb, "vec_id", "embedding", "cluster", 0.3
    ).collect()
    has_lower = {r["id_b"] for r in pairs}
    for vid, k in kept.items():
        assert k == (vid not in has_lower), f"vec {vid}: kept={k}"
    min_per_cluster = {}
    for vid, c in cluster_of.items():
        min_per_cluster[c] = min(min_per_cluster.get(c, vid), vid)
    for c, vid in min_per_cluster.items():
        assert kept[vid], f"cluster {c} lowest id {vid} must survive"


def test_dsir_weights_partitioning_invariant(spark, sf_dir):
    """DECIMAL accumulation ⇒ identical weights under any repartitioning."""
    from flink_1_12_0_src_spark.pipeline.sampling import dsir_weights

    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("lang") != "en")
    tgt = docs.filter(F.col("lang") == "en")
    a = sorted(map(tuple, dsir_weights(raw, tgt, "doc_id", "text").collect()))
    b = sorted(
        map(
            tuple,
            dsir_weights(raw.repartition(13), tgt.repartition(3), "doc_id", "text").collect(),
        )
    )
    assert a == b


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs made of target-domain tokens must outscore docs of raw-only
    tokens — the defining DSIR property."""
    from flink_1_12_0_src_spark.pipeline.sampling import dsir_weights

    tgt_rows = [(1000 + i, "alpha beta gamma delta epsilon") for i in range(20)]
    raw_rows = [(1, "alpha beta gamma delta epsilon"), (2, "zork mumble frotz blorb grue")]
    raw_rows += [(10 + i, "zork mumble frotz blorb grue") for i in range(20)]
    tgt = spark.createDataFrame(tgt_rows, "doc_id bigint, text string")
    raw = spark.createDataFrame(raw_rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in dsir_weights(raw, tgt, "doc_id", "text").collect()}
    assert out[1]["log_weight"] > out[2]["log_weight"]
    assert out[1]["selected"] and not out[2]["selected"]


def test_bipartite_projection_hub_guard(spark):
    """A hub bottom vertex shared by B tops yields B(B-1)/2 pairs; with the
    degree cap below B the hub drops before pairing while small bottoms
    still project."""
    from flink_1_12_0_src_spark.operators.graph import bipartite_projection

    rows = [(t, 999) for t in range(60)]          # hub bottom: 60 tops
    rows += [(100, 1), (101, 1), (100, 2), (101, 2)]  # small bottoms
    edges = spark.createDataFrame(rows, "top bigint, bottom bigint")

    uncapped = bipartite_projection(edges, "top", "bottom", max_bottom_degree=None)
    assert uncapped.filter("src < 60 AND dst < 60").count() == 60 * 59 // 2

    capped = bipartite_projection(edges, "top", "bottom", max_bottom_degree=10)
    got = {(r["src"], r["dst"]): r["n_links"] for r in capped.collect()}
    assert got == {(100, 101): 2}, "hub must drop; small bottoms must survive"


def test_pack_sequences_sharded_packing(spark):
    """shard_col packs each (stream, shard) independently: offsets restart
    per shard and every pack except a shard's last is full."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.sampling import pack_sequences

    rows = [(i, "s", i % 2, 10) for i in range(20)]  # two shards of 10 docs
    df = spark.createDataFrame(rows, "doc_id bigint, src string, shard int, n int")
    out = pack_sequences(df, "doc_id", "src", F.col("n"), 25, shard_col="shard").collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1}
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        assert rs[0]["start_offset"] == 0  # offsets restart per shard
        assert [r["pack_id"] for r in rs] == [i * 10 // 25 for i in range(10)]


def test_label_centroids_match_numpy(spark, sf_dir):
    """Third-implementation cross-check: the Spark/DuckDB centroid spec
    (6-dp round → DECIMAL sum → /n → 6-dp round) recomputed in numpy
    float64 must agree to the last rounded digit."""
    import numpy as np
    import pyarrow.parquet as pq

    from flink_1_12_0_src_spark.pipeline.similarity import label_centroids

    pdf = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    got = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
        for r in label_centroids(table(spark, sf_dir, "embeddings")).collect()
    }
    for label, grp in pdf.groupby("label"):
        mat = np.round(np.stack(grp["embedding"].to_numpy()).astype(np.float64), 6)
        want = np.round(mat.sum(axis=0) / len(grp), 6)
        for dim in range(mat.shape[1]):
            centroid, n = got[(label, dim)]
            assert n == len(grp)
            assert centroid == pytest.approx(want[dim], abs=1.5e-6)


def test_nearest_centroid_agreement_beats_chance(spark, sf_dir):
    """The label structure in the synthetic embeddings is real: assigning
    each vector to its nearest label centroid must agree with the true
    label well above the 1/|labels| chance rate."""
    from flink_1_12_0_src_spark.pipeline.similarity import nearest_centroid_classify

    rows = nearest_centroid_classify(table(spark, sf_dir, "embeddings")).collect()
    n_labels = len({r["true_label"] for r in rows})
    acc = sum(r["correct"] for r in rows) / len(rows)
    assert acc > 1.5 / n_labels, (acc, n_labels)


def test_cluster_cohesion_matches_numpy(spark, sf_dir):
    """Cross-check the per-label cohesion stats against a straight numpy
    computation of member-to-centroid cosines (same 6-dp rounding)."""
    import numpy as np
    import pyarrow.parquet as pq
    from decimal import ROUND_HALF_UP, Decimal

    from flink_1_12_0_src_spark.pipeline.similarity import cluster_cohesion

    def r6(x: float) -> Decimal:
        # Spark/DuckDB round() is HALF_UP on the decimal rendering of the
        # double; np.round is half-to-even, which can differ by 1e-6 at a
        # 7th-decimal tie — emulate the engines exactly
        return Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    pdf = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    got = {
        r["label"]: (r["n_vectors"], r["mean_cosine"], r["min_cosine"], r["max_cosine"])
        for r in cluster_cohesion(table(spark, sf_dir, "embeddings")).collect()
    }
    for label, grp in pdf.groupby("label"):
        mat = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
        cent = np.array(
            [
                float(r6(float(sum(r6(v) for v in mat[:, d])) / len(grp)))
                for d in range(mat.shape[1])
            ]
        )
        cos = np.round(
            (mat @ cent) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(cent)), 6
        )
        mean = float(sum(Decimal(f"{c:.6f}") for c in cos) / len(cos))
        n, m, lo, hi = got[label]
        assert n == len(grp)
        assert m == pytest.approx(mean, abs=1.5e-6)
        assert lo == pytest.approx(cos.min(), abs=1.5e-6)
        assert hi == pytest.approx(cos.max(), abs=1.5e-6)
        assert -1.0 <= lo <= hi <= 1.0


def test_vocab_growth_invariants(spark, sf_dir):
    """Per-source vocabulary report: hapax <= distinct <= total, the ratio
    is distinct/total, and token volume reconciles with token_stats."""
    from flink_1_12_0_src_spark.pipeline.text import vocab_growth

    docs = table(spark, sf_dir, "documents")
    rows = vocab_growth(docs).collect()
    assert rows
    for r in rows:
        assert 0 <= r["hapax_tokens"] <= r["distinct_tokens"] <= r["total_tokens"]
        assert r["type_token_ratio"] == pytest.approx(
            r["distinct_tokens"] / r["total_tokens"], abs=1e-6
        )
    total = sum(r["total_tokens"] for r in rows)
    n_tokens = docs.selectExpr(
        "sum(size(split(lower(text), '\\\\s+'))) AS n"
    ).collect()[0]["n"]
    assert total == n_tokens


def test_centroid_separation_triangular(spark, sf_dir):
    """Exactly C(|labels|, 2) ordered pairs, cosines within [-1, 1], and the
    matrix agrees with a numpy recomputation from the engine's centroids."""
    import numpy as np

    from flink_1_12_0_src_spark.pipeline.similarity import (
        centroid_separation,
        label_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents: dict = {}
    for r in label_centroids(emb).collect():
        cents.setdefault(r["label"], {})[r["dim"]] = r["centroid"]
    rows = centroid_separation(emb).collect()
    n = len(cents)
    assert len(rows) == n * (n - 1) // 2
    for r in rows:
        assert r["label_a"] < r["label_b"]
        assert -1.0 <= r["cosine"] <= 1.0
        va = np.array([cents[r["label_a"]][d] for d in sorted(cents[r["label_a"]])])
        vb = np.array([cents[r["label_b"]][d] for d in sorted(cents[r["label_b"]])])
        want = float((va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert r["cosine"] == pytest.approx(want, abs=1.5e-6)


def test_dup_rate_report_reconciles_with_exact_dedup(spark, sf_dir):
    """The per-source audit totals must agree with the corpus-wide exact
    dedup: dropped-by-dedup across sources == total docs minus distinct
    texts, and dup-cluster membership >= dropped."""
    from flink_1_12_0_src_spark.pipeline.dedup import dup_rate_report

    docs = table(spark, sf_dir, "documents")
    rows = dup_rate_report(docs).collect()
    n_docs = docs.count()
    n_distinct = docs.selectExpr("md5(text) AS h").distinct().count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_dropped_by_dedup"] for r in rows) == n_docs - n_distinct
    for r in rows:
        assert 0 <= r["n_dropped_by_dedup"] <= r["n_in_dup_clusters"] <= r["n_docs"]
        assert r["dup_rate"] == pytest.approx(
            r["n_in_dup_clusters"] / r["n_docs"], abs=1e-6
        )


def test_rowlocal_band_keys_bit_identical_to_batch_path(spark, sf_dir):
    """The streaming near-dedup twin computes LSH band buckets ROW-LOCALLY
    (pipeline/dedup.py rowlocal_band_keys) while the batch operator uses the
    explode + hash-aggregate path (minhash_signatures + _band_keys). The
    keep-first admission join only works if the two are BIT-identical — pin
    it on the real corpus (this test would have caught the HOF lambda-arity
    pitfall where a default second parameter binds to the array index)."""
    from flink_1_12_0_src_spark.pipeline.dedup import (
        _band_keys,
        minhash_signatures,
        rowlocal_band_keys,
    )

    docs = table(spark, sf_dir, "documents")
    batch = _band_keys(
        minhash_signatures(docs, "doc_id", "text", 12, 3), "doc_id", 12, 4
    ).select("doc_id", "band", "bk")
    rl = docs.select(
        "doc_id", F.explode(rowlocal_band_keys("text", 12, 3, 4)).alias("x")
    ).select("doc_id", "x.band", "x.bk")
    assert batch.exceptAll(rl).count() == 0
    assert rl.exceptAll(batch).count() == 0
    assert batch.count() == rl.count() > 0


def test_kmeans_fit_partition_invariant(spark, sf_dir):
    """kmeans_fit_exact's whole point is engine-/partitioning-exact
    training: the DECIMAL mean accumulation and rounded-cosine argmax must
    yield bit-identical centroids whatever the input partitioning. Also
    pins the fail-fast seed/iters contract."""
    import pytest

    from flink_1_12_0_src_spark.pipeline.similarity import kmeans_fit_exact

    emb = table(spark, sf_dir, "embeddings")
    base = sorted(tuple(r) for r in kmeans_fit_exact(emb, k=4, iters=2).collect())
    again = sorted(
        tuple(r) for r in kmeans_fit_exact(emb.repartition(7), k=4, iters=2).collect()
    )
    assert base == again
    assert len(base) > 0
    with pytest.raises(ValueError, match="iters"):
        kmeans_fit_exact(emb, k=4, iters=0)
    with pytest.raises(ValueError, match="seed ids"):
        kmeans_fit_exact(emb.filter(F.col("vec_id") >= 2), k=4, iters=1)


def test_logreg_fit_partition_invariant_and_contract(spark, sf_dir):
    """logreg_fit_exact's whole point is engine-/partitioning-exact
    training: rounded-then-DECIMAL gradient accumulation must yield
    bit-identical weights whatever the input partitioning. Also pins the
    fail-fast rounds contract and the output shape (n_buckets + 2 rows:
    TF buckets, then the length feature, bias last)."""
    import pytest

    from flink_1_12_0_src_spark.pipeline.classifier import logreg_fit_exact
    from flink_1_12_0_src_spark.pipeline.text import quality_score

    docs = table(spark, sf_dir, "documents").limit(200)
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= 0.5).alias("label")
    )
    base = sorted(
        tuple(r) for r in logreg_fit_exact(labeled, "label", n_buckets=16, rounds=2).collect()
    )
    again = sorted(
        tuple(r)
        for r in logreg_fit_exact(
            labeled.repartition(7), "label", n_buckets=16, rounds=2
        ).collect()
    )
    assert base == again
    assert len(base) == 18  # 16 TF buckets + length + bias
    assert [b for b, _ in base] == list(range(18))
    with pytest.raises(ValueError, match="rounds"):
        logreg_fit_exact(labeled, "label", rounds=0)


def test_logreg_fit_matches_numpy_twin(spark):
    """Brute-force twin: the same hashed-TF features and full-batch
    logistic GD (identical roundings) in numpy must reproduce
    logreg_fit_exact's weights, and training must actually separate an
    obviously separable corpus (positive docs share a marker token)."""
    import hashlib

    import numpy as np

    from flink_1_12_0_src_spark.pipeline.classifier import logreg_fit_exact

    nb, rounds, lr = 8, 3, 0.5
    rows = []
    for i in range(60):
        pos = i % 2 == 0
        words = (["goodtok"] * 3 if pos else ["badtok"] * 3) + [
            f"w{(i * 7 + j) % 13}" for j in range(5)
        ]
        rows.append((i, " ".join(words), pos))
    df = spark.createDataFrame(rows, "doc_id long, text string, label boolean")

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % nb

    X = np.zeros((len(rows), nb + 2))
    y = np.zeros(len(rows))
    for r, (_, text, lab) in enumerate(rows):
        toks = text.lower().split()
        for t in toks:
            X[r, bucket(t)] += 1
        X[r, :nb] = np.round(X[r, :nb] / len(toks), 6)
        X[r, nb] = round(min(len(toks) / 50.0, 1.0), 6)
        X[r, nb + 1] = 1.0
        y[r] = 1.0 if lab else 0.0
    w = np.zeros(nb + 2)
    for _ in range(rounds):
        z = np.round(w * X, 9).sum(axis=1)
        p = np.round(1.0 / (1.0 + np.exp(-z)), 9)
        g = np.round((p - y)[:, None] * X, 9).sum(axis=0)
        w = np.round(w - lr * g / len(rows), 6)
    got = dict(
        logreg_fit_exact(df, "label", n_buckets=nb, rounds=rounds, lr=lr).collect()
    )
    assert np.allclose([got[b] for b in range(nb + 2)], w, atol=2e-6)
    # the marker buckets separate: goodtok weight > badtok weight
    assert got[bucket("goodtok")] > 0 > got[bucket("badtok")]


def test_bpe_fit_greedy_merge_semantics(spark):
    """Pins the merge fold against hand-computed greedy BPE: on a corpus of
    'aaaa' words the first merge is (a,a) and re-tokenization is greedy
    left-to-right non-overlapping ([a,a,a,a] → [aa,aa], [a,a,a] → [aa,a]),
    so round 2 must see [aa,aa] pairs — NOT the overlap-missed sequences a
    string-replace implementation would produce. Also pins the rounds
    contract."""
    import pytest

    from flink_1_12_0_src_spark.pipeline.text import bpe_fit

    df = spark.createDataFrame(
        [(0, "aaaa aaaa aaa"), (1, "aaaa bb")], ["doc_id", "text"]
    )
    got = {r["round"]: (r["sym_a"], r["sym_b"], r["merged"], r["freq"]) for r in bpe_fit(df, "text", 2).collect()}
    # round 1: (a,a) appears 3+3+2+3=11 times across words (aaaa×3 has 3 each)
    assert got[1] == ("a", "a", "aa", 11)
    # after greedy merge: aaaa→[aa,aa] (×3 words), aaa→[aa,a], bb→[b,b]
    # round-2 pairs: (aa,aa)×3, (aa,a)×1, (b,b)×1 → top is (aa,aa)
    assert got[2] == ("aa", "aa", "aaaa", 3)
    with pytest.raises(ValueError, match="rounds"):
        bpe_fit(df, "text", 0)


def test_hashed_tf_rowlocal_bit_identical_to_matrix(spark, sf_dir):
    """The streaming serving path's row-local feature fold must produce
    BIT-identical vectors to the batch explode/aggregate matrix path — the
    contract that lets stream_quality_filter share the batch oracle."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.classifier import (
        hashed_tf_features,
        hashed_tf_matrix,
    )
    from flink_1_12_0_src_spark.pipeline.text import tokens

    docs = table(spark, sf_dir, "documents").limit(150)
    m = hashed_tf_matrix(docs, "doc_id", "text", 16)
    r = docs.select(
        "doc_id", hashed_tf_features("text", 16).alias("x")
    ).filter(F.size(F.filter(tokens("text"), lambda x: x != "")) >= 1)
    got_m = {row["doc_id"]: tuple(row["x"]) for row in m.collect()}
    got_r = {row["doc_id"]: tuple(row["x"]) for row in r.collect()}
    assert got_m == got_r and len(got_m) > 0


def test_curriculum_pack_quality_is_monotone_across_packs(spark, sf_dir):
    """Curriculum packing's defining property, pinned directly: documents are
    packed in ascending (quality, doc_id) order within each language stream,
    so the packs PARTITION the sorted order — every document in pack k has
    quality <= every document in pack k+1, hence max_quality[k] <=
    min_quality[k+1] for consecutive packs of one lang."""
    from flink_1_12_0_src_spark.queries import load_all

    rows = (
        load_all()["dataset_curriculum_pack"].spark(spark, sf_dir).collect()
    )
    assert len(rows) > 4
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, packs in by_lang.items():
        packs.sort(key=lambda r: r["pack_id"])
        # contiguous pack ids from 0 (concat-then-chunk leaves no gaps)
        assert [p["pack_id"] for p in packs] == list(range(len(packs)))
        for a, b in zip(packs, packs[1:]):
            assert a["max_quality"] <= b["min_quality"], (lang, a, b)
        for p in packs:
            assert p["min_quality"] <= p["mean_quality"] + 1e-6
            assert p["mean_quality"] <= p["max_quality"] + 1e-6


def test_calibration_report_is_internally_consistent(spark, sf_dir):
    """The reliability-diagram report must agree with itself: each bin's
    mean_p lies inside the bin's decile bounds, frac_pos is a valid
    fraction, and the repeated ECE column equals the n-weighted mean of the
    per-bin gaps recomputed from the report's own rows."""
    from flink_1_12_0_src_spark.queries import load_all

    rows = (
        load_all()["pipeline_quality_calibration"].spark(spark, sf_dir).collect()
    )
    assert rows, "no occupied calibration bins"
    total = sum(r["n_docs"] for r in rows)
    ece = {round(r["ece"], 6) for r in rows}
    assert len(ece) == 1  # repeated on every row by construction
    want_ece = round(
        sum(r["n_docs"] * r["abs_gap"] for r in rows) / total, 6
    )
    assert abs(ece.pop() - want_ece) <= 1e-6
    for r in rows:
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0
        # p is bucketed on integer nano-units of its 9dp rounding, so a
        # boundary doc can sit half an ulp outside the open interval
        assert lo - 1e-6 <= r["mean_p"] <= hi + 1e-6, r
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(r["abs_gap"] - round(abs(r["mean_p"] - r["frac_pos"]), 6)) <= 1e-6


def test_bpe_fit_survives_merge_exhaustion(spark):
    """A corpus whose words are fully merged before `rounds` rounds must NOT
    lose its vocabulary (the merge join is a left join, not a cross join
    against the empty top-pair relation): the fit emits one merge row per
    productive round only, and the encode report still covers every doc."""
    from flink_1_12_0_src_spark.pipeline.text import bpe_encode_report, bpe_fit

    df = spark.createDataFrame(
        [(1, "ab ab cd"), (2, "ab")], "doc_id bigint, text string"
    )
    merges = bpe_fit(df, "text", 3).collect()
    # round 1 merges (a,b), round 2 merges (c,d); round 3 finds no pair
    assert [(r["round"], r["merged"]) for r in merges] == [(1, "ab"), (2, "cd")]
    rep = {r["doc_id"]: r for r in bpe_encode_report(df, "doc_id", "text", 3).collect()}
    assert rep[1]["n_bpe_tokens"] == 3 and rep[2]["n_bpe_tokens"] == 1


def test_pq_fit_exact_rejects_bad_seed_ids(spark):
    """pq_fit_exact must fail fast (like kmeans_fit_exact) when ids 0..ksub-1
    are not all present — a bare `< ksub` filter would silently train an
    empty or short codebook and every query would get zero neighbors."""
    import pytest

    from flink_1_12_0_src_spark.pipeline.similarity import pq_fit_exact

    vecs = spark.createDataFrame(
        [(i + 100, [float(i)] * 8) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="seed ids"):
        pq_fit_exact(vecs, dim=8, m=2, ksub=4)


def test_pca_power_matches_numpy_twin_and_is_partition_invariant(spark, sf_dir):
    """pca_power_exact's contract is t ENGINE-EXACT power rounds (like
    kmeans_fit_exact's fixed Lloyd rounds — convergence is the caller's
    spectrum-dependent knob), so the pin is: (a) loadings/eigval match a
    float64 numpy twin of the SAME rounds to within the nano-rounding
    budget, (b) the Rayleigh eigval never exceeds the true top eigenvalue,
    and (c) the result is BIT-identical under repartitioning — the
    nano-unit integer accumulation contract."""
    import numpy as np

    from flink_1_12_0_src_spark.pipeline.similarity import pca_power_exact
    from flink_1_12_0_src_spark.queries.pipelineq import PCA_DIM, PCA_ITERS

    emb = table(spark, sf_dir, "embeddings")
    rows = pca_power_exact(emb, "vec_id", "embedding", PCA_DIM, PCA_ITERS).collect()
    got = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["pos"])])
    eig = rows[0]["eigval"]

    X = np.array([list(r["embedding"]) for r in emb.collect()], dtype=np.float64)
    G = X.T @ X
    v = np.full(PCA_DIM, round(1.0 / PCA_DIM**0.5, 9))
    for _ in range(PCA_ITERS):
        w = G @ v
        n = float(np.linalg.norm(w))
        v = w / n
    assert np.allclose(got, v, atol=1e-4), np.max(np.abs(got - v))
    assert abs(eig - n) <= 1e-4 * n
    top_val = float(np.linalg.eigh(G)[0][-1])
    # eigval carries +5e-7 absolute quantization (round to 1e-6 units) and
    # the nano-rounded unit vector allows ~1e-9 relative excess — bound
    # with both slacks so a converged run cannot flake the Rayleigh bound
    assert eig <= top_val * (1 + 1e-8) + 5e-7

    re_rows = pca_power_exact(
        emb.repartition(7), "vec_id", "embedding", PCA_DIM, PCA_ITERS
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, re_rows))


def test_ngram_containment_flags_quoted_superset_pair(spark):
    """The asymmetric class, pinned directly: a small doc fully quoted
    inside a much larger one has containment 1.0 in the small->large
    direction but a LOW Jaccard — ngram_containment_pairs must flag it
    while ngram_jaccard_pairs (threshold 0.3) misses it."""
    from flink_1_12_0_src_spark.pipeline.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote, "en"), (2, quote + " " + filler, "en"),
         (3, "totally unrelated words here truly", "en")],
        "doc_id bigint, text string, lang string",
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_containment_pairs(docs, "doc_id", "text", "lang").collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["c_ab"] == 1.0 and r["c_ba"] < 0.2 and r["jaccard"] < 0.2
    jac = ngram_jaccard_pairs(docs, "doc_id", "text", "lang").collect()
    assert all((p["id_a"], p["id_b"]) != (1, 2) for p in jac), "Jaccard should miss it"


def test_containment_prune_keeps_superset_and_min_id(spark):
    """The pruning policy, pinned on a hand fixture: the quoted doc loses
    to its superset; two identical-set docs keep the MIN id; unrelated
    docs survive; the ledger's dropped_id_sum pins WHICH ids dropped."""
    from flink_1_12_0_src_spark.pipeline.dedup import containment_prune_report

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, quote, "en", "s1"),              # contained in 2 -> dropped
            (2, quote + " " + filler, "en", "s1"),  # superset -> kept
            (5, "mirror twin words here now", "en", "s2"),  # equal sets:
            (6, "mirror twin words here now", "en", "s2"),  # 5 kept, 6 dropped
            (9, "totally unrelated content words", "en", "s3"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    got = {
        r["source"]: (r["n_docs"], r["n_dropped"], r["dropped_id_sum"])
        for r in containment_prune_report(
            docs, "doc_id", "text", "lang", "source"
        ).collect()
    }
    assert got["s1"] == (2, 1, 1)   # doc 1 dropped
    assert got["s2"] == (2, 1, 6)   # MIN id 5 kept, 6 dropped
    assert got["s3"] == (1, 0, 0)


def test_exact_substring_rewrite_keeps_one_copy(spark):
    """The ExactSubstr rewrite policy on a hand fixture: the MIN-doc copy
    of a shared 8-token span survives verbatim, the other copy loses
    exactly the span, a doc that IS the span rewrites to '', and unique
    docs pass through unchanged."""
    from flink_1_12_0_src_spark.pipeline.dedup import exact_substring_rewrite

    span = " ".join(f"s{i}" for i in range(8))
    uniq = " ".join(f"u{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, span + " " + uniq),  # keeper: survives whole
            (2, "pre1 pre2 " + span + " post1"),  # loses the span only
            (3, span),  # entirely the span -> ''
            (4, "wholly unrelated words only here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substring_rewrite(docs, "doc_id", "text", window=8).collect()
    }
    assert got[1] == (16, 0, span + " " + uniq)
    assert got[2] == (11, 8, "pre1 pre2 post1")
    assert got[3] == (8, 8, "")
    assert got[4] == (5, 0, "wholly unrelated words only here")


def test_soft_dedup_weights_downweight_duplicates(spark):
    """SoftDeDup's whole point: duplicated/boilerplate docs get weight < 1,
    rare docs > 1, corpus-mean weight = 1 by construction, and the weights
    are partitioning-invariant (rounded-then-DECIMAL recipe)."""
    from flink_1_12_0_src_spark.pipeline.dedup import soft_dedup_weights

    dup = "the exact same duplicated boilerplate paragraph repeated verbatim here"
    rows = [(i, dup) for i in range(8)] + [
        (
            100 + i,
            f"unique{i} rare{i * 7} tokens{i * 13} never{i * 3} "
            f"seen{i * 11} elsewhere{i} once{i * 5}",
        )
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in soft_dedup_weights(df, "doc_id", "text").collect()}
    assert len(got) == 16
    dup_w = [got[i]["weight"] for i in range(8)]
    uniq_w = [got[100 + i]["weight"] for i in range(8)]
    assert max(dup_w) < 1.0 < min(uniq_w)
    allw = [r["weight"] for r in got.values()]
    assert abs(sum(allw) / len(allw) - 1.0) < 1e-3
    again = {
        r["doc_id"]: tuple(r)
        for r in soft_dedup_weights(df.repartition(7), "doc_id", "text").collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == again


def test_soft_dedup_cms_matches_python_twin(spark):
    """Brute-force twin of the CMS-priced SoftDeDup: build the Count-Min
    sketch (md5 slice layout), estimate each gram as the min over its
    slice counters, and push the estimate through the identical pricing
    tail (9-dp nll, DECIMAL mean, micro rounding) in plain Python — must
    reproduce weight_cms exactly; also pins the deterministic direction
    (cms_conservative TRUE: the sketch only overcounts and every pricing
    step is monotone) and that the exact-side weight equals
    soft_dedup_weights' on the same corpus."""
    import hashlib
    from collections import Counter
    from decimal import Decimal
    import math

    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.dedup import (
        cms_state_rows,
        soft_dedup_cms_weights,
        soft_dedup_weights,
    )
    from flink_1_12_0_src_spark.pipeline.text import shingles

    k, n_slices, hex_chars = 3, 4, 2
    dup = "the exact same duplicated boilerplate paragraph repeated verbatim here"
    rows = [(i, dup) for i in range(6)] + [
        (100 + i, f"unique{i} rare{i * 7} tokens{i * 13} never{i * 3} seen{i * 11}")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    gcount = (
        df.select(F.col("doc_id"), F.explode(shingles("text", k)).alias("sh"))
        .groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).cast("decimal(15,0)").alias("n"))
    )
    state = (
        cms_state_rows(df, "text", k, n_slices, hex_chars)
        .groupBy("i", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        r["doc_id"]: r
        for r in soft_dedup_cms_weights(
            gcount, state, "doc_id", n_slices, hex_chars
        ).collect()
    }

    # python twin
    def grams(t):
        w = [x for x in t.lower().split(" ")]
        return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)] if len(w) >= k else []

    per_doc = {d: grams(t) for d, t in rows}
    allg = [g for gs in per_doc.values() for g in gs]
    n_total = len(allg)
    sketch: Counter = Counter()
    for g in allg:
        hh = hashlib.md5(g.encode()).hexdigest()
        for i in range(n_slices):
            sketch[(i, hh[i * hex_chars : (i + 1) * hex_chars])] += 1
    def est(g):
        hh = hashlib.md5(g.encode()).hexdigest()
        return min(sketch[(i, hh[i * hex_chars : (i + 1) * hex_chars])] for i in range(n_slices))
    a6 = {}
    for d, gs in per_doc.items():
        s = sum(
            (Decimal(str(round(-math.log(est(g) / n_total), 9))) for g in gs),
            Decimal(0),
        )
        a6[d] = round(float(s) / len(gs) * 1e6) / 1e6
    cm = float(sum(Decimal(str(a)) for a in a6.values())) / len(a6)
    want_wc = {d: round(a / cm * 1e6) / 1e6 for d, a in a6.items()}

    exact = {
        r["doc_id"]: r["weight"]
        for r in soft_dedup_weights(df, "doc_id", "text", k=k).collect()
    }
    assert set(got) == set(want_wc)
    for d in got:
        assert got[d]["weight_cms"] == want_wc[d], d
        assert got[d]["weight"] == exact[d], d
        assert got[d]["cms_conservative"] is True, d
        micro = round(abs(got[d]["weight_cms"] - got[d]["weight"]) * 1e6)
        assert round(got[d]["drift"] * 1e6) == micro, d


def test_slm_select_matches_python_twin(spark):
    """Brute-force twin of the Rho-1 token triage: the same unigram/bigram
    nll terms (identical 6-dp roundings), exact DECIMAL excess differences
    and threshold compares in plain Python must reproduce the per-doc
    ledger exactly; also pins the observed selection direction on this
    smoothing (add-1 caps the bigram cost, so rare-unigram targets earn
    the largest excess) and partition invariance."""
    import math
    from collections import Counter
    from decimal import Decimal

    from flink_1_12_0_src_spark.pipeline.text import slm_token_select

    rows = [
        (1, ("alpha beta " * 30).strip()),
        (2, " ".join(f"w{i} alpha" if i % 2 else f"beta w{i}" for i in range(30))),
        (3, "gamma delta gamma delta gamma epsilon"),
    ]
    thr = 0.7
    docs = {i: t.lower().split() for i, t in rows}
    uni = Counter(t for ws in docs.values() for t in ws)
    tot = float(sum(uni.values()))
    vs = float(len(uni))
    bgs = Counter((a, b) for ws in docs.values() for a, b in zip(ws, ws[1:]))
    expect = {}
    for i, ws in docs.items():
        if len(ws) < 2:
            continue
        n_sc, n_sel, s = 0, 0, Decimal(0)
        for a, b in zip(ws, ws[1:]):
            ex = Decimal(str(round(-math.log(uni[b] / tot), 6))) - Decimal(
                str(round(-math.log((bgs[(a, b)] + 1.0) / (uni[a] + vs)), 6))
            )
            n_sc += 1
            n_sel += ex >= Decimal(str(thr))
            s += ex
        expect[i] = (
            n_sc,
            n_sel,
            round(n_sel / n_sc * 1e6) / 1e6,
            round(float(s) / n_sc * 1e6) / 1e6,
        )
    got = {
        r["doc_id"]: (
            r["n_scored"], r["n_selected"], r["selected_frac"], r["mean_excess"]
        )
        for r in slm_token_select(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text", thr
        ).collect()
    }
    assert set(got) == set(expect)
    for i in expect:
        assert got[i][:2] == expect[i][:2], i
        assert abs(got[i][2] - expect[i][2]) < 2e-6, i
        assert abs(got[i][3] - expect[i][3]) < 2e-6, i
    # rare-unigram targets (doc 2) out-select the pure collocation (doc 1)
    assert got[2][2] > got[1][2]
    again = {
        r["doc_id"]: tuple(r)
        for r in slm_token_select(
            spark.createDataFrame(rows, ["doc_id", "text"]).repartition(5),
            "doc_id", "text", thr,
        ).collect()
    }
    assert {
        r["doc_id"]: tuple(r)
        for r in slm_token_select(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text", thr
        ).collect()
    } == again


def test_vectorized_media_kernels_match_scalar_reference(spark):
    """The numpy-vectorized sample_frames / windowed_energy kernels (round
    14: exact int64 prefix sums replace the per-byte Python loops) produce
    the same rows as a scalar re-derivation, including partial tail
    frames/windows and an empty blob."""
    import math

    from flink_1_12_0_src_spark.pipeline.multimodal import (
        sample_frames,
        windowed_energy,
    )

    blobs = [
        (1, bytearray(bytes(range(256)) * 3 + b"\x07\x09")),  # partial tail
        (2, bytearray(b"")),  # no frames, no windows
        (3, bytearray(b"\xff" * 100)),  # constant, exactly crosses frames
    ]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")

    got_f = sorted(
        tuple(r) for r in sample_frames(df, frame_bytes=100, stride=2).collect()
    )
    want_f = []
    for i, blob in blobs:
        n_frames = (len(blob) + 99) // 100
        for k in range(0, n_frames, 2):
            chunk = bytes(blob[k * 100 : (k + 1) * 100])
            want_f.append((i, k, k * 100, len(chunk), sum(chunk) % 997))
    assert got_f == sorted(want_f)

    got_e = sorted(
        tuple(r) for r in windowed_energy(df, win=64, hop=32).collect()
    )
    want_e = []
    for i, blob in blobs:
        w = 0
        while w * 32 < len(blob):
            chunk = bytes(blob[w * 32 : w * 32 + 64])
            rms = round(math.sqrt(sum(b * b for b in chunk) / len(chunk)), 6)
            want_e.append((i, w, w * 32, len(chunk), rms, rms >= 64.0))
            w += 1
    assert got_e == sorted(want_e)
