"""Image featurizers (reference: src/main/scala/nodes/images/).

The reference runs these as Scala loops (or JNI for SIFT/FisherVector)
over per-record pixel arrays. Spark-first: every kernel is numpy over
Arrow batches (``mapInPandas``) — stride-tricks im2col + gemm IS the
reference's Convolver design (im2col + BLAS), minus the hand-rolled
batching. Images are IMAGE_STRUCT rows (see operators/multimodal.py),
channel-last (h, w, c) flattened.

The reference's SIFT came from VLFeat over JNI; here ``dense_sift`` is a
pure-numpy reimplementation of the published dense-SIFT construction
(orientation-histogram bins, triangular spatial weighting, clip-0.2
renormalization) so the SIFT -> FisherVector path runs without any
native library.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from keystone_spark.operators.multimodal import IMAGE_STRUCT


def _img_to_np(img) -> np.ndarray:
    return np.asarray(img["data"], dtype=np.float64).reshape(
        img["height"], img["width"], img["n_channels"]
    )


def _np_to_img(arr: np.ndarray) -> dict:
    h, w = arr.shape[:2]
    c = arr.shape[2] if arr.ndim == 3 else 1
    return {
        "height": int(h),
        "width": int(w),
        "n_channels": int(c),
        "data": arr.astype(np.float32).ravel().tolist(),
    }


def _map_images(df: DataFrame, image_col: str, out_col: str, out_field, fn):
    fields = list(df.schema.fields)
    out_schema = StructType(fields + [StructField(out_col, out_field)])
    cols = [f.name for f in fields]

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # null images (missing/undecodable media) propagate as null
            vals = [None if img is None else fn(_img_to_np(img))
                    for img in pdf[image_col]]
            pdf = pdf.copy()
            pdf[out_col] = vals
            yield pdf[cols + [out_col]]

    return df.mapInPandas(part, out_schema)


def im2col(arr: np.ndarray, fh: int, fw: int, stride: int = 1) -> np.ndarray:
    """(h, w, c) -> (n_patches, fh*fw*c) via stride tricks (the Windower /
    FastWindower kernel — reference: nodes/images/Windower.scala)."""
    windows = np.lib.stride_tricks.sliding_window_view(arr, (fh, fw), axis=(0, 1))
    windows = windows[::stride, ::stride]  # (oh, ow, c, fh, fw)
    oh, ow = windows.shape[:2]
    # reorder to (oh*ow, fh*fw*c) with channel-last patch layout
    patches = windows.transpose(0, 1, 3, 4, 2).reshape(oh * ow, -1)
    return patches


class Convolver:
    """2-D valid convolution of a filter bank, im2col + one gemm per image
    (reference: nodes/images/Convolver.scala)."""

    def __init__(self, filters: np.ndarray, fh: int, fw: int, in_channels: int):
        # filters: (n_filters, fh*fw*c), patch layout matching im2col
        self.filters = np.asarray(filters, dtype=np.float64)
        self.fh, self.fw, self.c = fh, fw, in_channels

    def __call__(self, df: DataFrame, image_col: str = "image",
                 out_col: str = "conv") -> DataFrame:
        filt, fh, fw = self.filters, self.fh, self.fw

        def one(arr: np.ndarray) -> dict:
            patches = im2col(arr, fh, fw)
            oh, ow = arr.shape[0] - fh + 1, arr.shape[1] - fw + 1
            out = (patches @ filt.T).reshape(oh, ow, len(filt))
            return _np_to_img(out)

        return _map_images(df, image_col, out_col, IMAGE_STRUCT, one)


class Pooler:
    """Spatial sum/max pooling over a cell grid with an optional pixel fn
    (reference: nodes/images/Pooler.scala)."""

    def __init__(self, stride: int, pool: str = "sum", pixel_fn=None):
        assert pool in ("sum", "max")
        self.stride, self.pool, self.pixel_fn = stride, pool, pixel_fn

    def __call__(self, df: DataFrame, image_col: str = "image",
                 out_col: str = "pooled") -> DataFrame:
        s, pool, pfn = self.stride, self.pool, self.pixel_fn

        def one(arr: np.ndarray) -> dict:
            if pfn is not None:
                arr = pfn(arr)
            h, w, c = arr.shape
            oh, ow = h // s, w // s
            view = arr[: oh * s, : ow * s].reshape(oh, s, ow, s, c)
            out = view.max(axis=(1, 3)) if pool == "max" else view.sum(axis=(1, 3))
            return _np_to_img(out)

        return _map_images(df, image_col, out_col, IMAGE_STRUCT, one)


class Windower:
    """Dense sliding patches, emitted as an array of flattened patches
    (reference: nodes/images/Windower.scala; multi-output -> explode
    downstream, SURVEY §2.10 UDTF pattern)."""

    def __init__(self, patch_size: int, stride: int):
        self.patch, self.stride = patch_size, stride

    def __call__(self, df: DataFrame, image_col: str = "image",
                 out_col: str = "patches") -> DataFrame:
        p, s = self.patch, self.stride

        def one(arr: np.ndarray) -> list:
            return [row.tolist() for row in im2col(arr, p, p, s)]

        return _map_images(
            df, image_col, out_col, ArrayType(ArrayType(DoubleType())), one
        )


class CenterCornerPatcher:
    """Deterministic center + 4 corner crops (reference:
    nodes/images/CenterCornerPatcher.scala)."""

    def __init__(self, patch_size: int):
        self.p = patch_size

    def __call__(self, df: DataFrame, image_col: str = "image",
                 out_col: str = "patch") -> DataFrame:
        p = self.p

        def one(arr: np.ndarray) -> list:
            h, w, _ = arr.shape
            ys = [0, 0, h - p, h - p, (h - p) // 2]
            xs = [0, w - p, 0, w - p, (w - p) // 2]
            return [
                _np_to_img(arr[y : y + p, x : x + p]) for y, x in zip(ys, xs)
            ]

        return _map_images(df, image_col, out_col, ArrayType(IMAGE_STRUCT), one)


class RandomPatcher:
    """Seeded random crops, n per image (reference:
    nodes/images/RandomPatcher.scala). Seed mixes a per-image key so the
    augmentation is deterministic per record, not per partition."""

    def __init__(self, patch_size: int, n_patches: int, seed: int = 42,
                 key_col: str | None = None):
        self.p, self.n, self.seed, self.key_col = patch_size, n_patches, seed, key_col

    def __call__(self, df: DataFrame, image_col: str = "image",
                 out_col: str = "patch") -> DataFrame:
        p, n, seed, key_col = self.p, self.n, self.seed, self.key_col
        fields = list(df.schema.fields)
        out_schema = StructType(fields + [StructField(out_col, ArrayType(IMAGE_STRUCT))])
        cols = [f.name for f in fields]

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                out = []
                for _, row in pdf.iterrows():
                    if row[image_col] is None:
                        out.append(None)
                        continue
                    arr = _img_to_np(row[image_col])
                    key = int(row[key_col]) if key_col else 0
                    rng = np.random.default_rng((seed, key))
                    h, w, _ = arr.shape
                    patches = []
                    for _i in range(n):
                        y = int(rng.integers(0, h - p + 1))
                        x = int(rng.integers(0, w - p + 1))
                        patches.append(_np_to_img(arr[y : y + p, x : x + p]))
                    out.append(patches)
                pdf = pdf.copy()
                pdf[out_col] = out
                yield pdf[cols + [out_col]]

        return df.mapInPandas(part, out_schema)


def lcs_features(df: DataFrame, image_col: str = "image",
                 out_col: str = "lcs", grid: int = 2) -> DataFrame:
    """Local Color Statistics: per grid-cell, per-channel mean+std
    (reference: nodes/images/LCSExtractor.scala)."""

    def one(arr: np.ndarray) -> list:
        h, w, c = arr.shape
        gh, gw = h // grid, w // grid
        feats = []
        for gy in range(grid):
            for gx in range(grid):
                cell = arr[gy * gh : (gy + 1) * gh, gx * gw : (gx + 1) * gw]
                feats.extend(cell.mean(axis=(0, 1)).tolist())
                feats.extend(cell.std(axis=(0, 1)).tolist())
        return feats

    return _map_images(df, image_col, out_col, ArrayType(DoubleType()), one)


def _conv1d_same(a: np.ndarray, kern: np.ndarray, axis: int) -> np.ndarray:
    """'same' 1-D correlation along ``axis`` with zero padding (kern odd)."""
    r = len(kern) // 2
    pad = [(0, 0)] * a.ndim
    pad[axis] = (r, r)
    win = np.lib.stride_tricks.sliding_window_view(np.pad(a, pad), len(kern), axis=axis)
    return win @ kern


def dense_sift(
    arr: np.ndarray, step: int = 2, bin_size: int = 4, n_angles: int = 8
) -> tuple[np.ndarray, np.ndarray]:
    """Dense SIFT descriptors for one image, pure numpy (reference:
    nodes/images/SIFTExtractor.scala, which called VLFeat's dsift via JNI
    — utils/external/VLFeat.scala; this is the same histogram-of-gradients
    construction, reimplemented from the published algorithm).

    Per keypoint on a dense (step x step) grid: 4x4 spatial bins of
    ``bin_size`` px x ``n_angles`` orientation bins = 128-dim (defaults).
    Gradient magnitude soft-assigns linearly into the two nearest
    orientation bins; spatial weighting is the standard triangular kernel
    (half-width bin_size), applied as a separable convolution so ALL
    keypoints share one pass over the image. L2-normalize, clip at 0.2,
    renormalize (Lowe's illumination robustness).

    Returns (coords (n, 2) [y, x], descriptors (n, 16 * n_angles)).
    """
    if arr.ndim == 3:
        arr = arr[:, :, 0] if arr.shape[2] == 1 else arr.mean(axis=2)
    h, w = arr.shape
    d = 16 * n_angles
    margin = int(np.ceil(1.5 * bin_size))
    ys = np.arange(margin, h - margin, step)
    xs = np.arange(margin, w - margin, step)
    if len(ys) == 0 or len(xs) == 0:
        return np.zeros((0, 2), dtype=np.int64), np.zeros((0, d))

    gy, gx = np.gradient(arr)
    mag = np.hypot(gx, gy)
    ori = np.arctan2(gy, gx) % (2 * np.pi)
    q = ori * n_angles / (2 * np.pi)
    i0 = np.floor(q).astype(np.intp) % n_angles
    f = q - np.floor(q)
    maps = np.zeros((n_angles, h, w))
    for k in range(n_angles):
        maps[k] = mag * ((1 - f) * (i0 == k) + f * ((i0 + 1) % n_angles == k))
    kern = 1.0 - np.abs(np.arange(-(bin_size - 1), bin_size)) / bin_size
    maps = _conv1d_same(_conv1d_same(maps, kern, axis=1), kern, axis=2)

    # bin centers at keypoint + (b - 1.5) * bin_size, b in 0..3
    offs = (np.arange(4) - 1.5) * bin_size
    by = np.rint(ys[:, None] + offs[None, :]).astype(np.intp)
    bx = np.rint(xs[:, None] + offs[None, :]).astype(np.intp)
    ny, nx = len(ys), len(xs)
    desc = np.empty((ny, nx, 4, 4, n_angles))
    for a in range(4):
        for b in range(4):
            sub = maps[:, by[:, a][:, None], bx[:, b][None, :]]  # (K, ny, nx)
            desc[:, :, a, b, :] = sub.transpose(1, 2, 0)
    desc = desc.reshape(ny * nx, d)

    nrm = np.maximum(np.linalg.norm(desc, axis=1, keepdims=True), 1e-12)
    desc = np.minimum(desc / nrm, 0.2)
    nrm = np.maximum(np.linalg.norm(desc, axis=1, keepdims=True), 1e-12)
    desc = desc / nrm
    coords = np.stack(np.meshgrid(ys, xs, indexing="ij"), axis=-1).reshape(-1, 2)
    return coords, desc


def sift_extract(
    df: DataFrame,
    image_col: str = "image",
    out_col: str = "sift",
    step: int = 2,
    bin_size: int = 4,
    n_angles: int = 8,
) -> DataFrame:
    """Dense SIFT per image -> array of 128-dim descriptors (see
    ``dense_sift``), Arrow-batched; feeds ``fisher_vector`` exactly like
    the reference's SIFT -> FV pipeline
    (pipelines/images/imagenet/ImageNetSiftLcsFV.scala)."""

    def one(arr: np.ndarray) -> list:
        _, desc = dense_sift(arr, step, bin_size, n_angles)
        return [row.tolist() for row in desc]

    return _map_images(
        df, image_col, out_col, ArrayType(ArrayType(DoubleType())), one
    )


def fisher_vector(descriptor_col_df: DataFrame, gmm_weights, gmm_means, gmm_covs,
                  desc_col: str = "descriptors", out_col: str = "fv") -> DataFrame:
    """Closed-form Fisher Vector encoding given diagonal-GMM params
    (reference: nodes/images/FisherVector.scala via EncEval; the closed
    form is deterministic numpy — no native lib needed).

    descriptors: array<array<double>> (n_desc x d) per row.
    Output: 2*K*d improved-FV (power + L2 normalized).
    """
    w = np.asarray(gmm_weights, dtype=np.float64)          # K
    mu = np.asarray(gmm_means, dtype=np.float64)           # K x d
    sg = np.asarray(gmm_covs, dtype=np.float64)            # K x d (diagonal)

    def one_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            fvs = []
            for descs in pdf[desc_col]:
                X = np.asarray(list(descs), dtype=np.float64)  # n x d
                n = len(X)
                # posteriors
                diff = X[:, None, :] - mu[None, :, :]          # n x K x d
                logp = (
                    -0.5 * (diff**2 / sg[None]).sum(-1)
                    - 0.5 * np.log(2 * np.pi * sg).sum(-1)[None]
                    + np.log(w)[None]
                )
                logp -= logp.max(axis=1, keepdims=True)
                q = np.exp(logp)
                q /= q.sum(axis=1, keepdims=True)              # n x K
                s = np.sqrt(sg)
                gm = (q[:, :, None] * (diff / s[None])).sum(0) / (n * np.sqrt(w)[:, None])
                gv = (q[:, :, None] * ((diff / s[None]) ** 2 - 1)).sum(0) / (
                    n * np.sqrt(2 * w)[:, None]
                )
                fv = np.concatenate([gm.ravel(), gv.ravel()])
                fv = np.sign(fv) * np.sqrt(np.abs(fv))         # power norm
                nrm = np.linalg.norm(fv)
                fvs.append((fv / nrm if nrm > 0 else fv).tolist())
            pdf = pdf.copy()
            pdf[out_col] = fvs
            yield pdf

    schema = StructType(
        list(descriptor_col_df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )
    return descriptor_col_df.mapInPandas(one_batch, schema)


class RandomImageTransformer:
    """Seeded random flip/brightness-perturb augmentation (reference:
    nodes/images/RandomImageTransformer.scala). Seed mixes a per-image key
    so the augmentation is deterministic per record across retries and
    executor placement — a hard requirement for reproducible pipelines."""

    def __init__(self, flip_prob: float = 0.5, noise_scale: float = 0.0,
                 seed: int = 42, key_col: str | None = None):
        self.flip_prob, self.noise_scale = flip_prob, noise_scale
        self.seed, self.key_col = seed, key_col

    def __call__(self, df: DataFrame, image_col: str = "image",
                 out_col: str = "aug") -> DataFrame:
        fp, ns, seed, key_col = self.flip_prob, self.noise_scale, self.seed, self.key_col
        fields = list(df.schema.fields)
        out_schema = StructType(fields + [StructField(out_col, IMAGE_STRUCT)])
        cols = [f.name for f in fields]

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                out = []
                for _, row in pdf.iterrows():
                    if row[image_col] is None:
                        out.append(None)
                        continue
                    arr = _img_to_np(row[image_col])
                    key = int(row[key_col]) if key_col else 0
                    rng = np.random.default_rng((seed, key))
                    if rng.random() < fp:
                        arr = arr[:, ::-1, :]
                    if ns > 0:
                        arr = arr + rng.normal(scale=ns, size=arr.shape)
                    out.append(_np_to_img(np.ascontiguousarray(arr)))
                pdf = pdf.copy()
                pdf[out_col] = out
                yield pdf[cols + [out_col]]

        return df.mapInPandas(part, out_schema)


def hog_features(
    df: DataFrame,
    image_col: str = "image",
    out_col: str = "hog",
    cell: int = 4,
    bins: int = 9,
) -> DataFrame:
    """HOG descriptors in pure numpy (reference: nodes/images/
    HogExtractor.scala — upstream wraps a native implementation; the
    algorithm itself is public: central-difference gradients, unsigned
    orientation histogram per cell weighted by magnitude, L2-normalized).

    Deterministic simplifications vs skimage: nearest-bin assignment (no
    linear bin interpolation) and per-cell L2 norm (no block overlap) —
    pinned by the naive-loop oracle in tests. Grayscale input expected;
    multi-channel images use the first channel.
    """
    def hog_one(arr: np.ndarray) -> list[float]:
        g = arr[:, :, 0]
        gy, gx = np.gradient(g)
        mag = np.hypot(gx, gy)
        ori = np.mod(np.degrees(np.arctan2(gy, gx)), 180.0)
        b = np.minimum((ori / (180.0 / bins)).astype(np.int64), bins - 1)
        h, w = g.shape
        ch, cw = h // cell, w // cell
        out = np.zeros((ch, cw, bins))
        for cy in range(ch):
            for cx in range(cw):
                sl = (slice(cy * cell, (cy + 1) * cell), slice(cx * cell, (cx + 1) * cell))
                np.add.at(out[cy, cx], b[sl].ravel(), mag[sl].ravel())
        norms = np.linalg.norm(out, axis=2, keepdims=True)
        out = out / np.maximum(norms, 1e-12)
        return out.ravel().tolist()

    return _map_images(df, image_col, out_col, ArrayType(DoubleType()), hog_one)


def _gauss_smooth(img: np.ndarray, sigma: float) -> np.ndarray:
    """Separable Gaussian blur, numpy-only (reflect padding)."""
    r = max(1, int(3 * sigma))
    x = np.arange(-r, r + 1)
    k = np.exp(-(x**2) / (2 * sigma**2))
    k /= k.sum()
    pad = np.pad(img, ((r, r), (0, 0)), mode="reflect")
    img = np.apply_along_axis(lambda c: np.convolve(c, k, "valid"), 0, pad)
    pad = np.pad(img, ((0, 0), (r, r)), mode="reflect")
    return np.apply_along_axis(lambda c: np.convolve(c, k, "valid"), 1, pad)


def daisy_features(
    df: DataFrame,
    image_col: str = "image",
    out_col: str = "daisy",
    bins: int = 4,
    rings: int = 2,
    ring_points: int = 6,
    radius_step: int = 2,
) -> DataFrame:
    """DAISY descriptor at the image center, numpy-only (reference:
    nodes/images/DaisyExtractor.scala; algorithm from Tola et al. 2010:
    rectified orientation maps, Gaussian-smoothed at increasing scales,
    histograms sampled at ring points).

    Simplification vs upstream: one descriptor per image (center anchor)
    instead of dense per-pixel extraction — dense extraction is the same
    kernel over a grid of anchors (explode, as RandomPatcher does).
    Each histogram is L2-normalized. Output length:
    bins * (1 + rings * ring_points).
    """
    def one(arr: np.ndarray) -> list[float]:
        g = arr[:, :, 0]
        gy, gx = np.gradient(g)
        thetas = np.arange(bins) * (2 * np.pi / bins)
        omaps = [np.maximum(0.0, np.cos(t) * gx + np.sin(t) * gy) for t in thetas]
        # one smoothed stack per ring scale (sigma grows outward)
        stacks = [
            np.stack([_gauss_smooth(m, 0.8 * (q + 1)) for m in omaps], axis=-1)
            for q in range(rings + 1)
        ]
        h, w = g.shape
        cy, cx = h // 2, w // 2

        def hist_at(stack: np.ndarray, y: int, x: int) -> np.ndarray:
            y = int(np.clip(y, 0, h - 1))
            x = int(np.clip(x, 0, w - 1))
            v = stack[y, x].astype(np.float64)
            n = np.linalg.norm(v)
            return v / n if n > 0 else v

        out = [hist_at(stacks[0], cy, cx)]
        for q in range(1, rings + 1):
            r = q * radius_step
            for p in range(ring_points):
                a = 2 * np.pi * p / ring_points
                out.append(
                    hist_at(stacks[q], round(cy + r * np.sin(a)), round(cx + r * np.cos(a)))
                )
        return np.concatenate(out).tolist()

    return _map_images(df, image_col, out_col, ArrayType(DoubleType()), one)
