"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images ride as ``binary`` columns with typed metadata beside them;
every transform is a Pandas-UDF/``mapInPandas`` stage with a real
schema, real partitioning, and bounded Arrow batches.  The *codecs* are
the only stubbed part in this container (no PIL/libjpeg; no video
codec, so there is no frame sampling): PNG + the deterministic lossy
stand-in are real (functions/images.py); anything else raises
``NotImplementedError`` at the decode call, not at plan time — so the
Spark-side plumbing is fully exercised by tests while the codec swap
stays a one-function change.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tegenaria_spark.functions.images import decode_image, encode_image, phash64

RESIZE_SCHEMA_SUFFIX = "resized BINARY, rw INT, rh INT"


def resize_images(df: DataFrame, target: int = 32, bytes_col: str = "bytes") -> DataFrame:
    """Decode → nearest-neighbor resize to target×target → re-encode.

    ``mapInPandas`` so a partition of images streams through in Arrow
    batches (batch size capped by spark.sql.execution.arrow.
    maxRecordsPerBatch — the knob that keeps 100 TB of payload from
    blowing executor memory)."""
    in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema = in_schema + ", " + RESIZE_SCHEMA_SUFFIX

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized, rws, rhs = [], [], []
            for blob in pdf[bytes_col]:
                px = decode_image(bytes(blob))
                h, w = px.shape[:2]
                yi = (np.arange(target) * h // target).clip(0, h - 1)
                xi = (np.arange(target) * w // target).clip(0, w - 1)
                small = px[np.ix_(yi, xi)]
                resized.append(encode_image(small, "png"))
                rws.append(target)
                rhs.append(target)
            pdf["resized"] = resized
            pdf["rw"] = rws
            pdf["rh"] = rhs
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def extract_features(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Cheap visual features per image: mean/std per channel + phash.

    Stand-in for an embedding model (not in this container); the
    signature — binary in, fixed-width vector out, Arrow-batched — is
    exactly what a real encoder UDF uses."""
    in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema = in_schema + ", features ARRAY<DOUBLE>, phash BIGINT"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, hashes = [], []
            for blob in pdf[bytes_col]:
                px = decode_image(bytes(blob)).astype(np.float64)
                feats.append(
                    [float(x) for x in np.concatenate([px.mean(axis=(0, 1)), px.std(axis=(0, 1))])]
                )
                hashes.append(phash64(px.astype(np.uint8)))
            pdf["features"] = feats
            pdf["phash"] = hashes
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def phash_near_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    phash_col: str = "phash",
    id_col: str = "image_id",
) -> DataFrame:
    """Near-duplicate IMAGES by perceptual-hash hamming distance — the
    payload-side dedup the image+caption store needs (re-encodes,
    resizes, and small edits keep pHash within a few bits; exact
    byte-hash dedup misses all of them).

    Pure composition: the text SimHash blocking
    (textdedup.hamming_near_pairs — pigeonhole-complete at the
    requested radius) over the phash column the store already carries,
    so the candidate join never compares all image pairs."""
    from tegenaria_spark.operators.textdedup import hamming_near_pairs

    return hamming_near_pairs(
        df.select(id_col, phash_col),
        max_hamming,
        hash_col=phash_col,
        id_col=id_col,
        out_a="image_a",
        out_b="image_b",
    )


def caption_dedup(
    images: DataFrame,
    max_hamming: int = 8,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
) -> DataFrame:
    """Image+caption store dedup, end to end: pHash near-dup pairs →
    connected components (transitive visual clusters) → keep ONE image
    per cluster, preferring the richest caption (longest; ties by id
    ascending).  This is the curation step the north-rule's
    image+caption table needs before training: re-encoded/resized
    copies collapse, and the best caption survives.

    Output: one row per input image — (id, component, kept_image_id,
    cluster_size, is_kept).  Shuffles are bounded: the pair join is
    pigeonhole-blocked, CC is O(log n) rounds, and the keep-best pass
    is two component-keyed exchanges."""
    from pyspark.sql import Window

    from tegenaria_spark.operators.cluster import canonical_assignments

    pairs = phash_near_pairs(images, max_hamming, phash_col=phash_col, id_col=id_col)
    asg = canonical_assignments(
        images.select(id_col), pairs, id_col=id_col, src="image_a", dst="image_b"
    )
    joined = images.select(id_col, caption_col).join(asg, id_col)
    worder = Window.partitionBy("component").orderBy(
        F.length(caption_col).desc(), F.col(id_col).asc()
    )
    ranked = joined.withColumn("_rn", F.row_number().over(worder))
    kept = ranked.filter(F.col("_rn") == 1).select(
        "component",
        F.col(id_col).alias("kept_image_id"),
    )
    sizes = joined.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        joined.join(kept, "component")
        .join(sizes, "component")
        .select(
            id_col,
            "component",
            "kept_image_id",
            "cluster_size",
            (F.col(id_col) == F.col("kept_image_id")).cast("int").alias("is_kept"),
        )
    )
