"""Real decode path (operators/multimodal.decode_image): dependency-free
PPM/BMP parsing, end-to-end through the mapInPandas plumbing with real
fixture bytes — the NotImplementedError branch is reachable only for
formats that genuinely need a codec."""

import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qucosa_fcrepo_reportingdb_spark.operators import multimodal as M


def ppm_bytes(w, h, comment=False):
    header = b"P6\n"
    if comment:
        header += b"# a comment line\n"
    header += f"{w} {h}\n255\n".encode()
    return header + bytes(range(256))[: w * h * 3].ljust(w * h * 3, b"\x00")


def bmp_bytes(w, h, bpp=24):
    row = (w * bpp // 8 + 3) & ~3
    pixels = b"\xab" * (row * h)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0,
                       len(pixels), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    return file_hdr + info + pixels


def test_decode_image_ppm():
    assert M.decode_image(ppm_bytes(4, 3)) == ("ppm", 4, 3, 3)
    assert M.decode_image(ppm_bytes(2, 2, comment=True)) == ("ppm", 2, 2, 3)
    # decode_features only hands decode_image payloads that pass this gate
    for payload in (ppm_bytes(4, 3), ppm_bytes(2, 2, comment=True)):
        assert payload[0] in M._DECODABLE_FIRST_BYTES


def test_decode_image_bmp():
    assert M.decode_image(bmp_bytes(5, 7)) == ("bmp", 5, 7, 3)
    assert M.decode_image(bmp_bytes(3, 2, bpp=32)) == ("bmp", 3, 2, 4)
    # top-down BMPs store negative height
    down = bytearray(bmp_bytes(4, 4))
    struct.pack_into("<i", down, 22, -4)
    assert M.decode_image(bytes(down)) == ("bmp", 4, 4, 3)
    for payload in (bmp_bytes(5, 7), bmp_bytes(3, 2, bpp=32), bytes(down)):
        assert payload[0] in M._DECODABLE_FIRST_BYTES


def png_bytes(w, h, channels=1):
    pixels = bytes((i * 11 + 5) % 256 for i in range(w * h * channels))
    return M.encode_png(pixels, w, h, channels), pixels


@pytest.mark.parametrize("payload", [
    b"",                                   # empty
    b"\x89PNG\r\n\x1a\n....",              # PNG signature, no chunks
    b"P6 not numbers at all",              # text that starts like a PPM
    b"BM" + b"x" * 60,                     # garbage BMP header
    ppm_bytes(4, 3)[:-5],                  # truncated pixel data
    bmp_bytes(5, 7)[:-3],                  # truncated pixel data
    png_bytes(4, 6)[0][:-20],              # truncated mid-IDAT
])
def test_decode_image_rejects_unsupported(payload):
    with pytest.raises(NotImplementedError):
        M.decode_image(payload)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_filters(channels):
    """h >= 5 so the encoder's y%5 schedule exercises every unfilter
    branch (None/Sub/Up/Average/Paeth); decode must reproduce the exact
    pixel bytes."""
    blob, pixels = png_bytes(7, 6, channels)
    assert M.decode_png(blob) == (7, 6, channels, pixels)
    fmt = {1: 0, 2: 4, 3: 2, 4: 6}[channels]  # noqa: F841 (doc only)
    assert M.decode_image(blob) == ("png", 7, 6, channels)


def test_png_rejects_corrupt_and_unsupported():
    import struct
    import zlib

    blob, _ = png_bytes(5, 5)
    # corrupt the deflate stream inside IDAT (flip a byte mid-chunk)
    bad = bytearray(blob)
    idat_at = blob.index(b"IDAT")
    bad[idat_at + 8] ^= 0xFF
    with pytest.raises(NotImplementedError):
        M.decode_png(bytes(bad))
    # 16-bit depth is honestly out of scope
    deep = bytearray(blob)
    ihdr_at = blob.index(b"IHDR")
    deep[ihdr_at + 4 + 8] = 16
    with pytest.raises(NotImplementedError):
        M.decode_png(bytes(deep))
    # inflated size inconsistent with IHDR dims
    lines = zlib.compress(b"\x00" + b"\x01" * 3)  # 1x3 gray row
    ihdr = struct.pack(">IIBBBBB", 9, 9, 8, 0, 0, 0, 0)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    mismatched = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                  + chunk(b"IDAT", lines) + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        M.decode_png(mismatched)


def test_decode_features_end_to_end(spark):
    """Real bytes through the actual Spark plumbing: binary column ->
    Arrow batch -> mapInPandas -> typed features, mixed formats in one
    partition."""
    rows = [
        (1, ppm_bytes(4, 3)),
        (2, bmp_bytes(5, 7)),
        (3, "just some text".encode()),
        (4, b""),
        (5, png_bytes(8, 6, 3)[0]),
    ]
    schema = T.StructType([
        T.StructField("asset_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])
    out = {r.asset_id: r for r in
           M.decode_features(spark.createDataFrame(rows, schema)).collect()}
    assert (out[1].decoder, out[1].width, out[1].height,
            out[1].channels) == ("ppm", 4, 3, 3)
    assert (out[2].decoder, out[2].width, out[2].height,
            out[2].channels) == ("bmp", 5, 7, 3)
    assert out[3].decoder == "stub" and out[3].width is None
    assert out[4].decoder == "stub" and out[4].n_bytes == 0
    assert (out[5].decoder, out[5].width, out[5].height,
            out[5].channels) == ("png", 8, 6, 3)
    # the stub features stay populated on every path
    assert out[1].n_bytes == len(rows[0][1])
    assert out[1].checksum == sum(rows[0][1]) % M.CHECKSUM_MOD


def test_text_corpus_never_accidentally_decodes(spark):
    """The oracle pins decoder='stub' for the documents corpus; no text
    payload may parse as a valid image by accident at any tested SF."""
    from tests.conftest import SF_DIR_ORACLE

    from qucosa_fcrepo_reportingdb_spark.plans.common import t

    assets = M.attach_binary(t(spark, SF_DIR_ORACLE, "documents"))
    n = M.decode_features(assets).filter(F.col("decoder") != "stub").count()
    assert n == 0


def test_read_assets_binaryfile_to_decode(spark, tmp_path):
    """The production ingestion path end-to-end: a directory of real image
    files through Spark's binaryFile source into the Arrow-batched decode
    — genuine scan, not a synthesized column."""
    (tmp_path / "a.ppm").write_bytes(ppm_bytes(6, 2))
    (tmp_path / "b.ppm").write_bytes(ppm_bytes(3, 3))
    (tmp_path / "notes.txt").write_bytes(b"not an image")

    assets = M.read_assets(spark, str(tmp_path), pattern="*.ppm")
    rows = assets.collect()
    assert len(rows) == 2                      # glob pruned the .txt
    assert {r.meta.uri.rsplit("/", 1)[-1] for r in rows} == {"a.ppm", "b.ppm"}
    assert all(r.meta.n_bytes == len(r.content) for r in rows)

    decoded = M.decode_features(assets).collect()
    dims = {(r.width, r.height) for r in decoded}
    assert dims == {(6, 2), (3, 3)}
    assert all(r.decoder == "ppm" for r in decoded)

    # ids are a pure function of the path: stable across re-scans
    again = {r.asset_id for r in
             M.read_assets(spark, str(tmp_path), pattern="*.ppm").collect()}
    assert again == {r.asset_id for r in rows}


def test_wav_roundtrip_and_chunk_walk():
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        decode_wav, encode_wav,
    )
    samples = [0, 100, -100, 32767, -32768, 7]
    blob = encode_wav(samples, 16000)
    assert decode_wav(blob) == (1, 16000, 6, samples)
    # an extra LIST chunk before data must be walked over, including the
    # word-alignment pad byte after an odd-length chunk
    import struct
    head, rest = blob[:12], blob[12:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    blob2 = head[:4] + struct.pack("<I", len(head) - 8 + len(extra)
                                   + len(rest)) + head[8:] + extra + rest
    assert decode_wav(blob2) == (1, 16000, 6, samples)


def test_wav_decoder_rejects_malformed():
    import pytest as _pytest
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        decode_wav, encode_wav,
    )
    with _pytest.raises(ValueError):
        decode_wav(b"not a wav at all")
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AIFF")      # wrong container type
    # non-PCM format code is refused, not misparsed
    import struct
    blob = bytearray(encode_wav([1, 2], 8000))
    blob[20:22] = struct.pack("<H", 3)               # IEEE float format
    with _pytest.raises(ValueError):
        decode_wav(bytes(blob))
    # a declared chunk length overrunning the buffer raises, never
    # silently truncates the fmt/data payload
    good = encode_wav([1, 2, 3], 8000)
    with _pytest.raises(ValueError, match="truncated chunk"):
        decode_wav(good[:-2])                        # data chunk cut short
    overrun = bytearray(good)
    overrun[40:44] = struct.pack("<I", 10 ** 6)      # data clen >> buffer
    with _pytest.raises(ValueError, match="truncated chunk"):
        decode_wav(bytes(overrun))


# --- nearest-neighbor resize kernel ------------------------------------------
def test_resize_identity():
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        resize_nearest,
    )
    px = bytes(range(12))                     # 4x3 grayscale
    assert resize_nearest(px, 4, 3, 4, 3) == px


def test_resize_downscale_known_values():
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        resize_nearest,
    )
    # 4x4 image, pixel = row*4 + col; 2x2 thumb picks (0,0),(0,2),(2,0),(2,2)
    px = bytes(range(16))
    assert resize_nearest(px, 4, 4, 2, 2) == bytes([0, 2, 8, 10])


def test_resize_upscale_replicates():
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        resize_nearest,
    )
    # 2x1 -> 4x1: each source pixel replicated twice
    assert resize_nearest(bytes([7, 9]), 2, 1, 4, 1) == bytes([7, 7, 9, 9])


def test_resize_multichannel_keeps_pixels_intact():
    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        resize_nearest,
    )
    # 2x1 RGB -> 1x1: nearest picks the left pixel, all 3 channels together
    px = bytes([10, 20, 30, 40, 50, 60])
    assert resize_nearest(px, 2, 1, 1, 1, channels=3) == bytes([10, 20, 30])


def test_resize_rejects_bad_geometry():
    import pytest as _pytest

    from qucosa_fcrepo_reportingdb_spark.operators.multimodal import (
        resize_nearest,
    )
    with _pytest.raises(ValueError):
        resize_nearest(bytes(5), 2, 2, 1, 1)      # buffer/geometry mismatch
    with _pytest.raises(ValueError):
        resize_nearest(bytes(4), 2, 2, 0, 1)      # non-positive target


def test_decode_wav_zero_channels_raises_value_error():
    """A malformed fmt chunk declaring channels=0 must raise the
    documented ValueError, not ZeroDivisionError."""
    fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)   # channels = 0
    data = struct.pack("<4h", 1, 2, 3, 4)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError):
        M.decode_wav(wav)


def test_decode_image_rejects_zero_height_bmp():
    """height=0 passes the truncation check (0 expected bytes) but is a
    malformed header, not a decoded zero-row image."""
    header = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, 4, 0, 1, 24, 0, 0, 0, 0,
                            0, 0))
    with pytest.raises(NotImplementedError):
        M.decode_image(header + b"\x00" * 16)


# --- perceptual hash (dHash) ------------------------------------------------
def test_dhash56_identity_and_range():
    px, w, h = M.phash_synth_pixels(42)
    h1 = M.dhash56(px, w, h)
    assert h1 == M.dhash56(px, w, h)           # deterministic
    assert 0 <= h1 < (1 << M.PHASH_BITS)       # 56 bits, positive BIGINT


def test_dhash56_sampled_perturbation_flips_at_most_one_bit():
    """Perturbing ONE thumbnail-sampled source pixel changes at most one
    horizontal-gradient bit (the design invariant the synthetic pair
    corpus rides on)."""
    w = h = 16
    px = bytearray((x * 31 + y * 57 + (x * y) % 13) % 256
                   for y in range(h) for x in range(w))
    base = M.dhash56(bytes(px), w, h)
    # thumb(7, 3) samples source((7*16)//8, (3*16)//8) = (14, 6)
    px[6 * w + 14] = (px[6 * w + 14] + 128) % 256
    flipped = M.dhash56(bytes(px), w, h)
    assert bin(base ^ flipped).count("1") <= 1


def test_dhash56_matches_resize_then_compare():
    """dhash56 == manual resize_nearest -> neighbor comparison."""
    px, w, h = M.phash_synth_pixels(7)
    thumb = M.resize_nearest(px, w, h, M.PHASH_TW, M.PHASH_TH)
    expect = 0
    for y in range(M.PHASH_TH):
        for x in range(M.PHASH_TW - 1):
            if thumb[y * M.PHASH_TW + x + 1] > thumb[y * M.PHASH_TW + x]:
                expect |= 1 << (y * 7 + x)
    assert M.dhash56(px, w, h) == expect


def test_phash_band_pigeonhole_guarantee():
    """Pigeonhole exactness (operators/banding.py) through the core's
    own DuckDB expressions, for every layout the registry bands with:
    two values within the layout's bound — n_bands - 1 flipped bits for
    single bands, n_bands - 2 for 2-of-n band pairs — always share a
    blocking key (checked over every flip set of that size, capped at
    3), and one more flip can break every key, so the bound is tight.
    The banded joins' correctness rests on this, for hamming <= 3."""
    import duckdb

    from qucosa_fcrepo_reportingdb_spark.operators.banding import (
        Layout,
        band_exprs,
    )
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        ORACLE_BANDS56,
        PAIRS56,
        PAIRS62,
        PROD_BANDS56,
        SIMHASH32_BANDS,
        SIMHASH64_ORACLE_BANDS,
    )
    con = duckdb.connect()

    def misses(layout: Layout, base: int, width: int, k: int) -> int:
        idx = [f"i{n}" for n in range(k)]
        ranges = ", ".join(f"range({width}) t{n}({c})"
                           for n, c in enumerate(idx))
        order = " AND ".join(f"{a} < {b}" for a, b in zip(idx, idx[1:]))
        mask = " | ".join(f"(CAST(1 AS BIGINT) << {c})" for c in idx)
        shared = " OR ".join(
            f"{ev} = {ew}" for ev, ew in zip(band_exprs("v", layout, "duck"),
                                             band_exprs("w", layout, "duck")))
        return con.execute(
            f"SELECT COUNT(*) FROM (SELECT v, xor(v, {mask}) AS w "
            f"FROM (SELECT CAST({base} AS BIGINT) AS v) b, {ranges}"
            f"{' WHERE ' + order if order else ''}) p "
            f"WHERE NOT ({shared})").fetchone()[0]

    layouts = [SIMHASH32_BANDS, ORACLE_BANDS56, PROD_BANDS56, PAIRS56,
               PAIRS62, SIMHASH64_ORACLE_BANDS,
               Layout("contiguous", 2), Layout("contiguous", 7)]
    for layout in layouts:
        bound = layout.n_bands - (2 if layout.scheme == "pairs" else 1)
        width = min(layout.bits, 62)      # BIGINT-safe signature width
        for base in (0x2545F4914F6CDD1D % (1 << width),
                     0x5851F42D4C957F2D % (1 << width)):
            assert misses(layout, base, width, min(bound, 3)) == 0, layout
            if bound < 4:
                assert misses(layout, base, width, bound + 1) > 0, layout


def test_dedup_image_phash_designed_pairs(spark):
    """At sf0.001 the synthetic corpus contains EXACTLY the designed
    (4k, 4k+1) near-dup pairs — found with hamming <= 2, no accidental
    extras (the quadratic-mixing property measured at both scales)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        dedup_image_phash,
    )
    rows = dedup_image_phash(spark, "/root/testdata/sf0.001").collect()
    got = {(r.d1, r.d2) for r in rows}
    assert got == {(d, d + 1) for d in range(0, 499, 4)}
    assert all(r.hamming <= 2 for r in rows)


def test_vfp_synth_pair_frame_distances():
    """Designed pair (4k, 4k+1): per-frame dHash distance <= 2 on frames
    0..K-2 (each member flips at most one bit vs the group base), and the
    last frame scatters far outside the gate for this pair."""
    from qucosa_fcrepo_reportingdb_spark.operators import multimodal as m
    for base in (0, 4, 40, 400):
        _, w, h = m.vfp_synth_pixels(base, 0)
        for f in range(m.VFP_FRAMES):
            pa, wa, ha = m.vfp_synth_pixels(base, f)
            pb, wb, hb = m.vfp_synth_pixels(base + 1, f)
            assert (wa, ha) == (wb, hb) == (w, h)
            da = m.dhash56(pa, wa, ha)
            db = m.dhash56(pb, wb, hb)
            hd = bin(da ^ db).count("1")
            if f < m.VFP_FRAMES - 1:
                assert hd <= 2, (base, f, hd)


def test_vfp_frames_decorrelate_within_clip():
    """A clip's frames must not collapse to one hash (the frame_idx terms
    enter both residue streams): all VFP_FRAMES hashes distinct for a
    sample of non-degenerate docs (doc 0/1 share g=0, which zeroes both
    residues and yields a constant clip — same benign degeneracy as the
    phash corpus's group 0)."""
    from qucosa_fcrepo_reportingdb_spark.operators import multimodal as m
    for d in (3, 17, 256, 1021):
        hs = set()
        for f in range(m.VFP_FRAMES):
            px, w, h = m.vfp_synth_pixels(d, f)
            hs.add(m.dhash56(px, w, h))
        assert len(hs) == m.VFP_FRAMES, d


def test_video_fingerprint_frame_survives_png_roundtrip(spark):
    """The mapInPandas signer must produce exactly VFP_FRAMES rows per
    doc and agree with the direct (no-Spark) chain."""
    from qucosa_fcrepo_reportingdb_spark.operators import multimodal as m
    docs = spark.range(8).selectExpr("id AS doc_id")
    rows = {(r.doc_id, r.frame_idx): r.vfh
            for r in m.video_fingerprint_frame(docs).collect()}
    assert len(rows) == 8 * m.VFP_FRAMES
    for d in range(8):
        for f in range(m.VFP_FRAMES):
            px, w, h = m.vfp_synth_pixels(d, f)
            assert rows[(d, f)] == m.dhash56(px, w, h)


def test_band_layout_recall_is_layout_independent(spark):
    """Pigeonhole exactness does not depend on WHICH 4-way partition of
    the 56 bits the bands use: contiguous and strided layouts must
    verify the identical hamming<=3 pair count, differing only in
    candidate volume / bucket shape (the knob the audit measures)."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        phash_band_layout_audit,
    )
    rows = {r.layout: r for r in
            phash_band_layout_audit(
                spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"contiguous", "strided"}
    assert rows["contiguous"].n_verified == rows["strided"].n_verified > 0
    for r in rows.values():
        assert r.n_candidates >= r.n_verified
        assert r.max_bucket_size >= 1 and r.n_buckets > 0
    # dHash bits are spatially correlated, so the strided layout must
    # not do WORSE on candidate volume than contiguous on this corpus
    assert rows["strided"].n_candidates <= rows["contiguous"].n_candidates


def test_band_layout_multimodal_strided_wins_every_family(spark):
    """The fleet-wide audit behind the PROD_BANDS56 production switch:
    per family, n_verified is layout-independent (pigeonhole holds for
    any 4-way bit partition) and the strided layout produces strictly
    fewer candidates on the designed corpora — adjacent-bit correlation
    is a property of all three signatures, not just dHash."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        band_layout_audit_multimodal,
    )
    rows = band_layout_audit_multimodal(
        spark, "/root/testdata/sf0.001").collect()
    fams = {}
    for r in rows:
        fams.setdefault(r.family, {})[r.layout] = r
    assert set(fams) == {"image_phash", "audio_afp", "video_vfh_frame"}
    for family, by_layout in fams.items():
        c, s = by_layout["contiguous"], by_layout["strided"]
        assert c.n_verified == s.n_verified > 0, family
        assert s.n_candidates < c.n_candidates, family
        assert s.max_bucket_size <= c.max_bucket_size, family


def test_band_salting_policy_invariants(spark):
    """The policy's arithmetic guarantees, independent of corpus: the
    post-salt hottest bucket never exceeds the target (that is what the
    integer-ceiling salt factor buys), extra_rows is zero exactly when
    nothing is hot, and action is 'salt' iff some bucket overflows."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        SALT_TARGET_BUCKET_DOCS,
        band_salting_policy,
    )
    rows = band_salting_policy(spark, "/root/testdata/sf0.001").collect()
    assert {r.family for r in rows} == {
        "minhash_lsh", "image_phash", "audio_afp", "video_vfh_frame"}
    for r in rows:
        assert r.target_bucket_docs == SALT_TARGET_BUCKET_DOCS
        assert r.max_bucket_after <= SALT_TARGET_BUCKET_DOCS
        assert r.salt_factor >= 1
        assert (r.action == "salt") == (r.salt_factor > 1)
        assert (r.n_hot_buckets == 0) == (r.extra_rows == 0)
        assert r.hot_band_rows <= r.band_rows


def test_blocking_schemes_verify_identically(spark):
    """Single-band 4x14 and combinatorial 2-of-5 band-pair blocking are
    both exact for hamming<=3, so n_verified must agree; at fixture
    scale the single-band scheme has fewer band rows (4 vs 10 per doc)
    while the pair scheme has at least as many buckets."""
    from qucosa_fcrepo_reportingdb_spark.operators.dedup import (
        phash_blocking_scheme_audit,
    )
    rows = {r.scheme: r for r in phash_blocking_scheme_audit(
        spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"band4x14_strided", "bandpairs_2of5"}
    single, pairs = rows["band4x14_strided"], rows["bandpairs_2of5"]
    assert single.n_verified == pairs.n_verified > 0
    assert pairs.n_band_rows == single.n_band_rows * 10 // 4
    assert pairs.n_buckets >= single.n_buckets
