"""Mutation fuzz over every crawl-facing parser: corrupted bytes
must be REFUSED (None / empty), never raise — crawl data is hostile
by default, and an uncaught IndexError in a mapInPandas kernel
kills the whole task, not one record. This harness found two
unguarded SOS header reads in round 9 (baseline + progressive JPEG);
the seeds and mutation mix are deterministic so failures reproduce.
"""

from __future__ import annotations

import random
import zlib

import numpy as np
import pytest

from trisk_datawrangle_spark.llm.audio import decode_wav, encode_wav
from trisk_datawrangle_spark.llm.charset import http_decode_text
from trisk_datawrangle_spark.llm.extract import (
    http_body,
    http_chunk_encode,
    warc_build,
    warc_records,
)
from trisk_datawrangle_spark.llm.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from trisk_datawrangle_spark.llm.multimodal import (
    decode_gif,
    decode_pixels,
    decode_png,
    encode_png,
    parse_image_dims,
)
from trisk_datawrangle_spark.llm.video import (
    encode_avi_mjpeg,
    sample_frames,
)

N_MUTATIONS = 150


def _mutate(rng: random.Random, b: bytes) -> bytes:
    out = bytearray(b)
    op = rng.randrange(4)
    if op == 0 and out:  # flip random bytes
        for _ in range(rng.randint(1, 8)):
            out[rng.randrange(len(out))] = rng.randrange(256)
    elif op == 1 and out:  # truncate
        del out[rng.randrange(len(out)):]
    elif op == 2 and out:  # delete a slice
        i = rng.randrange(len(out))
        del out[i:min(len(out), i + rng.randint(1, 32))]
    else:  # insert junk
        i = rng.randrange(len(out) + 1)
        out[i:i] = bytes(
            rng.randrange(256) for _ in range(rng.randint(1, 16))
        )
    return bytes(out)


def _seeds() -> dict[str, bytes]:
    px3 = bytes(
        (3 * x + 5 * y + 7 * c) % 255
        for y in range(12) for x in range(10) for c in range(3)
    )
    px4 = bytes(
        (3 * x + 5 * y + 7 * c) % 255
        for y in range(12) for x in range(10) for c in range(4)
    )
    frames = [
        encode_jpeg(
            16, 8, 3,
            np.full((8, 16, 3), 100 + 20 * i, np.uint8).tobytes(),
            quality=90,
        )
        for i in range(3)
    ]
    http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        + http_chunk_encode(b"hello world " * 20, 7)
    )
    http_charset = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=windows-1252\r\n"
        b"Content-Length: 20\r\n\r\n"
        + "café http fuzz seed".encode("cp1252")
    )
    return {
        "png": encode_png(10, 12, 4, px4),
        "http_charset": http_charset,
        "jpeg": encode_jpeg(10, 12, 3, px3, quality=85),
        "jpeg_progressive": encode_jpeg_progressive(
            10, 12, 3, px3, quality=85
        ),
        "http_gzip": (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + __import__("gzip").compress(b"gzip fuzz seed " * 10, 6)
        ),
        "warc": warc_build(
            [
                ({"WARC-Type": "warcinfo"}, b"x\r\n"),
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": "http://e/1",
                    },
                    http,
                ),
            ],
            gzip_members=True,
        ),
        "wav": encode_wav(
            8000, 2, 16, [(i * 13) % 2001 - 1000 for i in range(200)]
        ),
        "avi": encode_avi_mjpeg(16, 8, 10, frames),
    }


_PARSERS = {
    "png": decode_png,
    "http_charset": http_decode_text,
    "jpeg": decode_jpeg,
    "jpeg_progressive": decode_jpeg,
    "http_gzip": http_decode_text,
    "warc": warc_records,
    "wav": decode_wav,
    "avi": lambda b: sample_frames(b, every_n=2),
}


@pytest.mark.parametrize("name", sorted(_PARSERS))
def test_mutated_payloads_never_raise(name):
    seed = _seeds()[name]
    native = _PARSERS[name]
    # crc32, NOT hash(): str hashes are salted per process, which
    # would make CI failures irreproducible locally (r9 review)
    rng = random.Random(zlib.crc32(name.encode()))
    for _ in range(N_MUTATIONS):
        m = _mutate(rng, seed)
        # the format's own parser plus the generic front doors every
        # mutated blob could reach in a real pipeline
        native(m)
        decode_pixels(m)
        parse_image_dims(m)
        http_body(m)
        http_decode_text(m)
        decode_gif(m)
