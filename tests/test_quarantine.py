"""Malformed-binary quarantine: typed reasons, zero escapes."""

from osm_admin_boundary_conflation_spark.operators.quarantine import (
    build_corrupt_corpus,
    classify_blob,
    quarantine_scan,
)


def test_classify_blob_never_raises_on_random_bytes():
    import random

    rng = random.Random(99)
    for n in (0, 1, 2, 3, 7, 64, 4096):
        blob = bytes(rng.randrange(256) for _ in range(n))
        fmt, reason = classify_blob(blob)
        assert isinstance(fmt, str) and isinstance(reason, str)
    # adversarial: valid magic + garbage tails for every signature
    for magic in (b"\x1f\x8b", b"BM", b"\xff\xd8", b"RIFF"):
        for tail in (b"", b"\x00" * 5, bytes(rng.randrange(256) for _ in range(200))):
            fmt, reason = classify_blob(magic + tail)
            assert fmt != "unknown" and reason != ""


def test_classify_blob_clean_formats():
    from osm_admin_boundary_conflation_spark.operators import quarantine as M
    from osm_admin_boundary_conflation_spark.sources import warc as W

    date = "2024-03-01T00:00:00Z"
    rec = W.gzip_member(W.build_warc_record("https://ex.com/1", date, b"<html/>"))
    assert classify_blob(rec) == ("warc", "")
    assert classify_blob(M.build_bmp(5)) == ("bmp", "")
    assert classify_blob(M.build_jpeg(5)) == ("jpeg", "")
    assert classify_blob(M.build_wav(5)) == ("wav", "")


def test_classify_blob_progressive_jpeg_is_parse_error():
    """A progressive (SOF2) frame marker makes the decoder raise
    NotImplementedError; quarantine turns that into one typed row."""
    from osm_admin_boundary_conflation_spark.operators import quarantine as M

    blob = M.build_jpeg(5)
    idx = blob.index(b"\xff\xc0")
    prog = blob[:idx] + b"\xff\xc2" + blob[idx + 2 :]
    assert classify_blob(prog) == ("jpeg", "parse_error")


def test_classify_blob_non_baseline_scan_header_is_bad_structure():
    """A SOF0 frame whose SOS header names spectral band 5-9 at Ah/Al
    2/1 is malformed for a baseline decoder (T.81 B.2.3 requires Ss=0,
    Se=63, Ah=Al=0), not a clean image."""
    from osm_admin_boundary_conflation_spark.operators import quarantine as M

    blob = M.build_jpeg(5)
    sos = blob.index(b"\xff\xda")
    at = sos + 5 + 2 * blob[sos + 4]  # past length, Ns and the Ns entries
    assert blob[at : at + 3] == b"\x00\x3f\x00"
    bad = blob[:at] + b"\x05\x09\x21" + blob[at + 3 :]
    assert classify_blob(bad) == ("jpeg", "bad_structure")


def test_quarantine_scan_corpus_outcomes(spark):
    docs = spark.range(0, 60).selectExpr("id AS doc_id")
    got = {
        (r.blob_id % 10, r.format, r.reason)
        for r in quarantine_scan(build_corrupt_corpus(docs)).collect()
    }
    assert got == {
        (0, "warc", ""),
        (1, "warc", "bad_structure"),
        (2, "warc", "bad_structure"),
        (3, "bmp", ""),
        (4, "bmp", "truncated"),
        (5, "jpeg", ""),
        (6, "jpeg", "truncated"),
        (7, "unknown", "unknown_magic"),
        (8, "wav", ""),
        (9, "wav", "truncated"),
    }
