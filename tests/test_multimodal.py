"""Multimodal decode: real PNG/JPEG/GIF header parsing over binary
payload columns, deterministic fallback for non-image bytes, and the
Arrow-batched operator shape."""

from __future__ import annotations

import os
import struct
import zlib

from glue_jobs_for_data_pipeline_spark.operators import multimodal


def make_png(width: int, height: int) -> bytes:
    """A fully valid (decodable) RGB PNG built with stdlib only."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80\x40\x20" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_jpeg_header(width: int, height: int) -> bytes:
    """SOI + APP0(JFIF) + SOF0 marker stream (the prefix every baseline
    JPEG carries; enough for any header-based size probe)."""
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3) + (
        b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0


def make_gif(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height)


def test_parse_png():
    assert multimodal.parse_image_header(make_png(320, 200)) == (320, 200, "PNG")


def test_parse_jpeg_walks_segments_to_sof():
    assert multimodal.parse_image_header(make_jpeg_header(640, 480)) == (
        640,
        480,
        "JPEG",
    )


def test_parse_gif():
    assert multimodal.parse_image_header(make_gif(16, 9)) == (16, 9, "GIF")


def test_parse_rejects_non_images():
    assert multimodal.parse_image_header(b"plain text bytes") is None
    assert multimodal.parse_image_header(b"") is None
    assert multimodal.parse_image_header(b"\x89PNG\r\n\x1a\nXXXX") is None


def test_decode_one_pil_path_agrees_with_header_parse():
    """When PIL is installed the wider-format path must agree with the
    header parse on a real decodable PNG; without PIL the header parse
    already handled it — both environments give the same answer."""
    png = make_png(12, 34)
    assert multimodal._decode_one(png) == (12, 34, "PNG")
    if multimodal.HAVE_PIL:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(png)) as im:
            assert (im.width, im.height, im.format) == (12, 34, "PNG")


def test_decode_one_falls_back_deterministically():
    w, h, fmt = multimodal._decode_one(b"not an image at all")
    assert fmt == "FAKE" and w >= 1 and h >= 1


def test_dhash_deterministic_and_64bit():
    p = b"some payload bytes " * 40
    h1, h2 = multimodal.dhash64(p), multimodal.dhash64(p)
    assert h1 == h2
    assert -(1 << 63) <= h1 < (1 << 63)
    assert multimodal.dhash64(b"") == 0


def test_dhash_edit_locality():
    """A small byte edit perturbs only the grid cells it lands in, so
    the Hamming distance stays far below the unrelated-payload
    distance — the property the banded near-dup tier operates on."""
    import random

    rng = random.Random(7)
    base = bytes(rng.randrange(256) for _ in range(4000))
    edited = bytearray(base)
    for i in range(50, 60):  # 10-byte local retouch
        edited[i] = (edited[i] + 90) % 256
    unrelated = bytes(rng.randrange(256) for _ in range(4000))
    d_edit = bin(
        (multimodal.dhash64(base) ^ multimodal.dhash64(bytes(edited)))
        & ((1 << 64) - 1)
    ).count("1")
    d_unrel = bin(
        (multimodal.dhash64(base) ^ multimodal.dhash64(unrelated))
        & ((1 << 64) - 1)
    ).count("1")
    assert d_edit <= 6, d_edit
    assert d_unrel > 15, d_unrel


def test_phash_dup_pairs_complete_vs_bruteforce(spark):
    """The banded candidate set equals the brute-force all-pairs scan
    at the same threshold — the pigeonhole no-false-negative guarantee,
    end-to-end through the Spark operator."""
    import random

    rng = random.Random(11)
    payloads = []
    for i in range(30):
        payloads.append((i, bytes(rng.randrange(256) for _ in range(2000))))
    # planted near-dups: local edits of payload 0 and 3
    for j, src in ((100, 0), (101, 0), (102, 3)):
        b = bytearray(payloads[src][1])
        for i in range(700, 708):
            b[i] ^= 0x5A
        payloads.append((j, bytes(b)))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in multimodal.phash_dup_pairs(df, max_hamming=6).collect()
    }
    hashes = {i: multimodal.dhash64(p) & ((1 << 64) - 1) for i, p in payloads}
    ids = sorted(hashes)
    expect = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= 6
    }
    assert got == expect
    # recall: every planted near-dup pair is found
    assert {(0, 100), (0, 101), (3, 102)} <= got


def test_render_thumbnail_shift_invariant_and_edit_local():
    """The renderer must give payloads the two properties decode+resize
    gives real images: a prefix insertion (which shifts every byte)
    leaves the thumbnail nearly unchanged, and a small in-place edit
    moves only a few cells."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the forest for a very long time without stopping once"
    )
    h0 = multimodal.dhash64(multimodal.render_thumbnail(base))
    h_shift = multimodal.dhash64(multimodal.render_thumbnail("padd " + base))
    h_edit = multimodal.dhash64(
        multimodal.render_thumbnail(base.replace("forest", "desert"))
    )
    h_other = multimodal.dhash64(
        multimodal.render_thumbnail(
            "completely different content about databases and query engines "
            "processing analytical workloads at petabyte scale every day"
        )
    )
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(h0, h_shift) <= 6
    assert ham(h0, h_edit) <= 10
    assert ham(h0, h_other) > 10


def test_phash_dedup_query_finds_fixture_neardups(spark, sf_dir):
    """The catalog query returns real pairs on the fixture: planted
    near-dup documents land within the Hamming-6 radius."""
    from glue_jobs_for_data_pipeline_spark.plans import catalog_ext  # noqa: F401
    from glue_jobs_for_data_pipeline_spark.plans.catalog import QUERIES

    out = QUERIES["x_mm_phash_dedup"](spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r["hamming"] <= 6 for r in out)


def test_phash_python_stage_is_signature_only(spark, sf_dir):
    """Plan audit: the only Python crossing in the image-dedup plan is
    the Arrow signature stage (one FlatMapsInPandas/ArrowEvalPython
    node); banding and verification stay JVM-side."""
    from glue_jobs_for_data_pipeline_spark.plans import catalog_ext  # noqa: F401
    from glue_jobs_for_data_pipeline_spark.plans.catalog import QUERIES

    plan = QUERIES["x_mm_phash_dedup"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    n_python = plan.count("InPandas") + plan.count("BatchEvalPython")
    assert n_python == 2, plan  # one per join branch of the same stage
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_decode_media_mixed_batch(spark):
    """The Spark operator over a mixed batch: real images decode to
    their true dimensions, non-image payloads take the fallback."""
    rows = [
        (1, make_png(320, 200)),
        (2, make_jpeg_header(640, 480)),
        (3, make_gif(16, 9)),
        (4, b"just some text bytes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (320, 200, "PNG")
    assert (out[2]["width"], out[2]["height"], out[2]["format"]) == (640, 480, "JPEG")
    assert (out[3]["width"], out[3]["height"], out[3]["format"]) == (16, 9, "GIF")
    assert out[4]["format"] == "FAKE"
    assert out[4]["n_bytes"] == len(b"just some text bytes")


def test_resize_luma_grid_box_pooling_exact(spark):
    import numpy as np

    from glue_jobs_for_data_pipeline_spark.operators import multimodal as mm

    # a known 9x8 ramp bitmap: cell (r, c) = r*9 + c
    grid = np.arange(72, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytes(grid))], "doc_id long, payload binary"
    )
    got = {
        (r["out_row"], r["out_col"]): r["luma"]
        for r in mm.resize_luma_grid(df).collect()
    }
    assert len(got) == 12  # 3 wide x 4 high
    arr = grid.astype(int).reshape(8, 9)
    for orow in range(4):
        for ocol in range(3):
            block = arr[orow * 2 : orow * 2 + 2, ocol * 3 : ocol * 3 + 3]
            assert got[(orow, ocol)] == block.sum() // 6
    # non-divisible target dims fail loudly
    import pytest

    with pytest.raises(ValueError, match="must divide"):
        mm.resize_luma_grid(df, out_w=4, out_h=4)


def test_read_binary_dir_roundtrip(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.readers import (
        read_binary_dir,
    )

    (tmp_path / "a.bin").write_bytes(b"\x00\xff\x10")
    (tmp_path / "b.bin").write_bytes(b"spark")
    (tmp_path / "ignored.txt").write_bytes(b"x")
    got = {
        r["file_name"]: (r["n_bytes"], bytes(r["content"]))
        for r in read_binary_dir(spark, str(tmp_path), glob="*.bin").collect()
    }
    assert got == {
        "a.bin": (3, b"\x00\xff\x10"),
        "b.bin": (5, b"spark"),
    }


def test_binary_ingest_scratch_root_override(spark, sf_dir, monkeypatch, tmp_path):
    """SPARK_GRAFT_SCRATCH_ROOT reroutes every scratch_dir under a
    caller-chosen shared filesystem (the cluster contract, README
    'Scratch storage') and the binaryFile ingest query still returns
    byte-identical rows to a run under the default root."""
    from glue_jobs_for_data_pipeline_spark import lifecycle
    from glue_jobs_for_data_pipeline_spark.plans.catalog import QUERIES

    q = QUERIES["x_mm_binary_ingest"]
    with lifecycle.query_scope():
        base = {
            r["file_name"]: (r["n_bytes"], r["content_hex"])
            for r in q(spark, sf_dir).collect()
        }
    root = tmp_path / "shared_scratch"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_ROOT", str(root))
    with lifecycle.query_scope():
        over = {
            r["file_name"]: (r["n_bytes"], r["content_hex"])
            for r in q(spark, sf_dir).collect()
        }
        # the override root was actually used (a mkdtemp landed under it)
        assert any(
            d.startswith("spark_graft_binary_ingest_") for d in os.listdir(root)
        )
    assert over == base and len(base) > 0
    assert os.listdir(root) == [], "closing the scope deletes its scratch"


def test_binary_ingest_two_invocations_do_not_race(spark, sf_dir):
    """ADVICE r14 (medium): with per-invocation scratch, building a
    second ingest frame must NOT invalidate the files a previously
    returned (lazy) frame reads — the dual-SF sweep shape that the old
    fixed /tmp path broke."""
    from glue_jobs_for_data_pipeline_spark.plans.catalog import QUERIES

    q = QUERIES["x_mm_binary_ingest"]
    first = q(spark, sf_dir)       # lazy — no action yet
    second = q(spark, sf_dir)      # would rmtree first's dir if shared
    assert second.count() > 0
    assert first.count() == second.count()  # first frame still readable
