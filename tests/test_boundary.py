"""Edge cases at the Python boundary (``etl_neptune_spark.boundary``).

Every row kernel builds its output batch from the declared Spark
schema, so a null text, an empty text, a text shorter than the shingle
width, an empty payload, and a partition with no rows at all each give
the answers below. The input is repartitioned wider than its row count,
so some partitions are empty and others hold only rows that every
kernel drops.

The expected rows are the answers of the pandas kernels these replaced.
Two of them, ``doc_shingles`` and ``minhash_signatures``, raised there
on a batch whose every row was dropped (an untyped empty ``list``
column), so their rows were taken from a layout where that batch does
not occur.
"""

from __future__ import annotations

import pytest

from etl_neptune_spark.operators.bpe import bpe_encode
from etl_neptune_spark.operators.dedup import (
    doc_shingles,
    minhash_signatures,
    simhash64_signatures,
)
from etl_neptune_spark.operators.linkage import doc_spans
from etl_neptune_spark.operators.multimodal import (
    decode_image_meta,
    perceptual_hash,
    resize_images,
)
from etl_neptune_spark.operators.sketches import heavy_hitters

TEXTS = [
    (1, None),
    (2, ""),
    (3, "Two words"),
    (4, "the cat sat on the mat and the cat ran"),
]
PAYLOADS = [(1, b""), (2, b"tiny payload")]

OPS = {
    "doc_shingles": lambda d, m: doc_shingles(d),
    "minhash_signatures": lambda d, m: minhash_signatures(doc_shingles(d), num_hashes=2),
    "simhash64_signatures": lambda d, m: simhash64_signatures(d),
    "doc_spans": lambda d, m: doc_spans(d, n=3),
    "bpe_encode": lambda d, m: bpe_encode(d, [("t", "h"), ("th", "e"), ("a", "t")]),
    "heavy_hitters": lambda d, m: heavy_hitters(d, phi=0.2),
    "decode_image_meta": lambda d, m: decode_image_meta(m),
    "resize_images": lambda d, m: resize_images(m, width=8, height=16),
    "perceptual_hash": lambda d, m: perceptual_hash(m),
}

EXPECTED = {
    "doc_shingles": [
        (
            4,
            [
                "the cat sat", "cat sat on", "sat on the", "on the mat",
                "the mat and", "mat and the", "and the cat", "the cat ran",
            ],
        )
    ],
    "minhash_signatures": [
        (4, ["253c77dd6d55bbe246561e562451f960", "039a8b4640528107a2082c0a057007cc"])
    ],
    "simhash64_signatures": [
        (2, "1101010000011101100011001101100110001111000000001011001000000100"),
        (3, "1000100000100001100101100001000010000000101000100100011110010001"),
        (4, "1000111001100100001011000100010111011111101110000010011000001011"),
    ],
    "doc_spans": [
        (4, 1, "f52864162b55874ebd9954d13ebc974d"),
        (4, 2, "abf43089e03714fc92af490adc3959b8"),
        (4, 3, "53c08de1c082feb327756ef934e50e9b"),
        (4, 4, "9afe7a76c8c2518e89e23ebc3e063d29"),
        (4, 5, "6b67a2894f110a4e6b66a88e62f646ac"),
        (4, 6, "4bbf050c55fa67ab756f7639a9454525"),
        (4, 7, "56da45a7779372eba97718f6414c0b48"),
        (4, 8, "aaa8b5715084b50a4e81f3f74cf48242"),
    ],
    "bpe_encode": [
        (2, 0, 0, []),
        (3, 2, 10, ["t", "w", "o", "</w>", "w", "o", "r", "d", "s", "</w>"]),
        (
            4,
            10,
            29,
            [
                "the", "</w>", "c", "at", "</w>", "s", "at", "</w>", "o", "n",
                "</w>", "the", "</w>", "m", "at", "</w>", "a", "n", "d", "</w>",
                "the", "</w>", "c", "at", "</w>", "r", "a", "n", "</w>",
            ],
        ),
    ],
    "heavy_hitters": [("the", 3, 0.25)],
    "decode_image_meta": [(1, 0, 1, 1, 3, "png"), (2, 12, 13, 85, 3, "webp")],
    "resize_images": [(1, b"", 8, 16), (2, b"ta", 8, 16)],
    "perceptual_hash": [(1, ""), (2, "111101011100")],
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_row_kernel_edge_cases(spark, op):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string").repartition(8)
    media = spark.createDataFrame(
        PAYLOADS, "doc_id long, payload binary"
    ).repartition(6)
    got = sorted(tuple(r) for r in OPS[op](docs, media).collect())
    assert got == EXPECTED[op]
