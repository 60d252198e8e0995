"""Pure-numpy baseline JPEG codec (operators/jpeg.py): lossy
round-trip error bounds on smooth images, EXACT round-trip on flat
even-valued blocks (the property jpeg_media_features' oracle gate
leans on), marker/bitstream validity, corrupt-payload errors pinned,
and the documented not-supported boundary (progressive, subsampled).
No Spark needed — this is the codec layer under decode_media.
"""

from __future__ import annotations

import numpy as np
import pytest

from w3_data_etl_pipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg
from w3_data_etl_pipeline_spark.operators.multimodal import decode_media


def _gradient(h=40, w=56):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 127 / (w + h))], axis=-1
    ).astype(np.uint8)


def test_rgb_roundtrip_error_bound():
    img = _gradient()
    for q, bound in ((90, 6), (75, 10)):
        dec = decode_jpeg(encode_jpeg(img, quality=q))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.max() <= bound, (q, err.max())


def test_grayscale_roundtrip():
    g = _gradient()[:, :, 0]
    dec = decode_jpeg(encode_jpeg(g, quality=85))
    assert dec.shape == g.shape
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 4


def test_non_multiple_of_8_dimensions():
    img = _gradient(h=13, w=21)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == (13, 21, 3)


def test_flat_even_blocks_roundtrip_exactly():
    vals = np.array([(ord(c) // 2) * 2 for c in "exact JPEG path!"], dtype=np.uint8)
    img = np.repeat(np.repeat(vals[None, :], 8, axis=0), 8, axis=1)
    dec = decode_jpeg(encode_jpeg(img, quality=50))
    assert np.array_equal(dec, img)


def test_marker_layout():
    raw = encode_jpeg(_gradient(16, 16), quality=75)
    assert raw[:2] == b"\xff\xd8" and raw[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in raw


def test_decode_media_dispatch():
    img = _gradient(16, 16)
    arr = decode_media(encode_jpeg(img, quality=90), "image/jpeg")
    assert arr.dtype == np.uint8 and arr.size == 16 * 16 * 3


def test_corrupt_payloads_raise():
    raw = encode_jpeg(_gradient(16, 16))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")
    with pytest.raises(ValueError, match="truncated|marker|no SOS"):
        decode_jpeg(raw[: len(raw) // 3])
    # flip the SOF0 marker to SOF2 (progressive): documented boundary
    prog = raw.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="SOF2"):
        decode_jpeg(prog)
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no frame


def test_subsampled_raises():
    raw = bytearray(encode_jpeg(_gradient(16, 16)))
    i = raw.index(b"\xff\xc0")
    # component 1's H/V byte sits at SOF0 + 2 (marker) + 2 (len) + 6 + 1
    raw[i + 11] = 0x22  # claim 2x2 subsampling
    with pytest.raises(NotImplementedError, match="4:4:4"):
        decode_jpeg(bytes(raw))


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="uint8"):
        encode_jpeg(np.zeros((8, 8), dtype=np.float32))
    with pytest.raises(ValueError, match="empty"):
        encode_jpeg(np.zeros((0, 8), dtype=np.uint8))


def test_media_features_entry_takes_empty_and_wide_texts(spark, tmp_path):
    """jpeg_media_features on an empty text (an empty image) and on
    codepoints past 255 (clamped to 255), against its DuckDB oracle by
    the driver's value hash."""
    import os
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.compare_oracle import value_hash
    from w3_data_etl_pipeline_spark.queries import REGISTRY
    from w3_data_etl_pipeline_spark.queries_olap import jpeg_media_features

    texts = ["", "aé€😀 ΩzĀÿþ", "plain ascii text, long enough to cut at 32"]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    df = jpeg_media_features(spark, str(tmp_path))
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
        rel = con.sql(REGISTRY["jpeg_media_features"]["oracle"])
        want, cols = rel.fetchall(), rel.columns
    finally:
        con.close()
    assert sorted(df.columns) == sorted(cols)
    assert value_hash(rows, df.columns) == value_hash(want, cols)
    by_id = {r[df.columns.index("media_id")]: r for r in rows}
    assert by_id[0][df.columns.index("n_px")] == 0
    assert by_id[1][df.columns.index("n_px")] == 64 * 10
