"""The streaming window assembly (operators/extract._assemble_stream) run
as plain Python over hand-built Arrow-batch frames: output bounds and key
runs, without a Spark session."""

import hashlib

import numpy as np
import pandas as pd

from rasterkit_spark.operators import extract as EX

CHUNK = 384  # one window = CHUNK² bytes: the byte bound trips before 256 rows


def _key_rows(n: int, blob: bytes, ids=None) -> pd.DataFrame:
    """``n`` single-tile keys: each query's region is exactly chunk (0, 0)
    of one raster (uncompressed, no predictor)."""
    ids = ids if ids is not None else [f"q{i:05d}" for i in range(n)]
    return pd.DataFrame({
        "query_id": ids,
        "media_ref": "m0", "level": 0,
        "region_x": 0, "region_y": 0, "region_w": CHUNK, "region_h": CHUNK,
        "chunk_w": CHUNK, "chunk_h": CHUNK, "compression": 1, "predictor": 1,
        "samples_per_pixel": 1, "tile_x": 0, "tile_y": 0, "blob": [blob] * n,
        "new_origin_x": 0.0, "new_origin_y": 0.0})


def test_flush_bound_holds_within_one_input_batch():
    """One Arrow batch of 10k single-tile keys must not be buffered whole:
    the 32 MB / 256-row bound is tested after every assembled window, so
    no frame holds more than 32 MB plus one window."""
    blob = np.arange(CHUNK * CHUNK, dtype=np.uint8).tobytes()
    window = len(blob)
    n_rows = n_frames = 0
    for frame in EX._assemble_stream(iter([_key_rows(10_000, blob)]),
                                     emit_window=True):
        payload = sum(len(w) for w in frame["window"])
        assert payload <= EX._ASSEMBLE_OUT_BYTES + window, (len(frame),
                                                            payload)
        assert len(frame) <= EX._ASSEMBLE_OUT_ROWS
        n_rows += len(frame)
        n_frames += 1
    assert n_rows == 10_000
    assert n_frames >= 10_000 * window // (EX._ASSEMBLE_OUT_BYTES + window)


def test_key_run_spanning_batches_assembles_one_window():
    """A key whose chunk rows straddle two Arrow batches is still one
    window, assembled from all of its chunks."""
    rng = np.random.default_rng(3)
    tiles = rng.integers(0, 256, (2, CHUNK * CHUNK), dtype=np.uint8)
    rows = _key_rows(3, b"", ids=["a", "b", "b"])
    rows["blob"] = [tiles[0].tobytes(), tiles[0].tobytes(), tiles[1].tobytes()]
    rows["region_w"] = [CHUNK, 2 * CHUNK, 2 * CHUNK]
    rows["tile_x"] = [0, 0, 1]
    out = pd.concat(EX._assemble_stream(iter([rows[:2], rows[2:]])))
    assert list(out.query_id) == ["a", "b"]
    want = np.hstack([tiles[0].reshape(CHUNK, CHUNK),
                      tiles[1].reshape(CHUNK, CHUNK)]).tobytes()
    assert out.window_sha256.iloc[1] == hashlib.sha256(want).hexdigest()
