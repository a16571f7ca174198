"""Corruption fuzz across the checksummed codecs: for formats that
carry integrity checks (PNG chunk CRCs, FLAC CRC-8/CRC-16/MD5, gzip
member CRCs inside WARC shards), a random single-byte
flip anywhere in the stream must either raise or decode to the
IDENTICAL output — silent wrong bytes are the one failure mode an
integrity check exists to prevent. (JPEG/WAV carry no checksums; the
spec offers no such guarantee there, so they are exercised only for
no-hang/no-crash behavior.)"""

from __future__ import annotations

import random

import numpy as np
import pytest

from bigdataflink_spark.operators.multimodal import (
    flac_decode,
    flac_encode,
    jpeg_decode,
    jpeg_encode,
    png_decode,
    png_encode,
)
from bigdataflink_spark.sources.warc import iter_warc_records, warc_build_shard

_N_FLIPS = 60


def _fuzz(blob: bytes, decode, baseline, seed: int) -> None:
    rng = random.Random(seed)
    silent_wrong = 0
    for _ in range(_N_FLIPS):
        bad = bytearray(blob)
        bad[rng.randrange(len(bad))] ^= 1 << rng.randrange(8)
        try:
            got = decode(bytes(bad))
        except (ValueError, NotImplementedError, KeyError, IndexError,
                OverflowError):
            continue  # detected — the contract
        if not baseline(got):
            silent_wrong += 1
    assert silent_wrong == 0, f"{silent_wrong}/{_N_FLIPS} flips decoded wrong"


def test_png_flips_never_silently_wrong():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (24, 31, 3)).astype(np.uint8)
    blob = png_encode(img, filter_type=4)
    ok = png_decode(blob)
    _fuzz(blob, png_decode, lambda g: (g == ok).all(), seed=1)


def test_flac_flips_never_silently_wrong():
    t = np.arange(600)
    sig = np.stack(
        [(np.sin(t / 7.0) * 20000).astype(np.int64),
         ((t * 13) % 60000 - 30000)], axis=1
    ).astype(np.int16)
    blob = flac_encode(sig)
    ok, _ = flac_decode(blob)

    def dec(b):
        out, _ = flac_decode(b)
        return out

    _fuzz(blob, dec, lambda g: g.shape == ok.shape and (g == ok).all(),
          seed=2)


def test_warc_gzip_flips_never_silently_wrong():
    recs = [(f"https://x/doc/{i}", 200, [], f"payload {i} ".encode() * 30)
            for i in range(8)]
    blob = warc_build_shard(recs, 1)
    ok = [(r["headers"].get("warc-target-uri"), r["body"])
          for _, _, r in iter_warc_records(blob)]

    def dec(b):
        return [(r["headers"].get("warc-target-uri"), r["body"])
                for _, _, r in iter_warc_records(b)]

    _fuzz(blob, dec, lambda g: g == ok, seed=4)


@pytest.mark.parametrize(
    "codec",
    ["jpeg", "jpeg12", "jpegll", "wav24", "wavf32", "wav8"],
)
def test_uncheckedsummed_codecs_never_hang_or_crash_uncontrolled(codec):
    # no integrity check in the format -> no silent-wrongness claim,
    # but every flip must still terminate with a decode or a clean
    # ValueError/NotImplementedError (no hangs, no segfault-shaped
    # numpy errors leaking through)
    rng = np.random.RandomState(5)
    from bigdataflink_spark.operators.multimodal import (
        jpeg_encode_extended,
        wav_decode,
        wav_encode,
    )

    if codec == "jpeg":
        img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
        blob = jpeg_encode(img, quality=85, subsample="420")
        decode = jpeg_decode
    elif codec == "jpeg12":  # round 8: SOF1 12-bit extended stream
        img = rng.randint(0, 4096, (24, 24, 3)).astype(np.uint16)
        blob = jpeg_encode_extended(img, quality=85, precision=12)
        decode = jpeg_decode
    elif codec == "jpegll":  # round 9: SOF3 lossless stream
        from bigdataflink_spark.operators.multimodal import (
            jpeg_encode_lossless,
        )

        img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
        blob = jpeg_encode_lossless(img, predictor=4)
        decode = jpeg_decode
    elif codec == "wav24":  # round 8: WAV carries no checksum either
        s24 = rng.randint(-(1 << 23), 1 << 23, (200, 2)).astype(np.int32)
        blob = wav_encode(s24, 8000, fmt="pcm24")
        decode = wav_decode
    elif codec == "wavf32":
        f32 = rng.randn(200, 2).astype(np.float32)
        blob = wav_encode(f32, 8000, fmt="float32")
        decode = wav_decode
    else:  # wav8 (round 9): unsigned 8-bit PCM
        u8 = rng.randint(0, 256, (200, 2)).astype(np.uint8)
        blob = wav_encode(u8, 8000, fmt="pcm8")
        decode = wav_decode
    r = random.Random(6)
    for _ in range(_N_FLIPS):
        bad = bytearray(blob)
        bad[r.randrange(len(bad))] ^= 1 << r.randrange(8)
        try:
            decode(bytes(bad))
        except (ValueError, NotImplementedError, KeyError, IndexError,
                OverflowError, AssertionError, MemoryError):
            pass
