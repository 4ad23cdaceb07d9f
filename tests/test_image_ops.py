"""Image kernel tests vs naive numpy loops (reference style:
nodes/images/ConvolverSuite.scala — conv vs nested loops)."""

import numpy as np
import pytest

from keystone_spark.operators.images import (
    CenterCornerPatcher,
    Convolver,
    Pooler,
    RandomPatcher,
    Windower,
    fisher_vector,
    im2col,
    lcs_features,
)
from keystone_spark.operators.multimodal import IMAGE_STRUCT

RNG = np.random.default_rng(21)


def _imgs_df(spark, arrs):
    rows = [
        (
            i,
            {
                "height": a.shape[0],
                "width": a.shape[1],
                "n_channels": a.shape[2],
                "data": a.astype(np.float32).ravel().tolist(),
            },
        )
        for i, a in enumerate(arrs)
    ]
    schema = f"img_id long, image struct<height:int,width:int,n_channels:int,data:array<float>>"
    return spark.createDataFrame(rows, schema)


def _naive_conv(arr, filt, fh, fw):
    h, w, c = arr.shape
    oh, ow = h - fh + 1, w - fw + 1
    out = np.zeros((oh, ow, len(filt)))
    for y in range(oh):
        for x in range(ow):
            patch = arr[y : y + fh, x : x + fw].transpose(2, 0, 1)  # c,fh,fw
            flat = patch.transpose(1, 2, 0).ravel()
            for k in range(len(filt)):
                out[y, x, k] = flat @ filt[k]
    return out


def test_im2col_matches_naive():
    arr = RNG.random((6, 6, 3))
    patches = im2col(arr, 3, 3)
    assert patches.shape == (16, 27)
    np.testing.assert_allclose(
        patches[0], arr[:3, :3].transpose(0, 1, 2).reshape(-1), rtol=1e-12
    )


def test_convolver_matches_naive_loops(spark):
    arr = RNG.random((8, 8, 3)).astype(np.float32).astype(np.float64)
    filt = RNG.random((4, 3 * 3 * 3))
    df = _imgs_df(spark, [arr])
    out = Convolver(filt, 3, 3, 3)(df).first().conv
    got = np.asarray(out["data"], dtype=np.float64).reshape(6, 6, 4)
    exp = _naive_conv(arr, filt, 3, 3)
    np.testing.assert_allclose(got, exp, rtol=1e-5)


def test_pooler_sum_and_max(spark):
    arr = np.arange(16, dtype=np.float32).reshape(4, 4, 1).astype(np.float64)
    df = _imgs_df(spark, [arr])
    s = Pooler(2, "sum")(df).first().pooled
    got = np.asarray(s["data"]).reshape(2, 2)
    np.testing.assert_allclose(got, [[10, 18], [42, 50]])
    m = Pooler(2, "max")(df).first().pooled
    np.testing.assert_allclose(np.asarray(m["data"]).reshape(2, 2), [[5, 7], [13, 15]])


def test_windower_count(spark):
    arr = RNG.random((6, 6, 1))
    df = _imgs_df(spark, [arr])
    patches = Windower(3, 3)(df).first().patches
    assert len(patches) == 4
    assert len(patches[0]) == 9


def test_center_corner_patcher(spark):
    arr = RNG.random((8, 8, 1))
    df = _imgs_df(spark, [arr])
    patches = CenterCornerPatcher(4)(df).first().patch
    assert len(patches) == 5
    np.testing.assert_allclose(
        np.asarray(patches[0]["data"], dtype=np.float64),
        arr[:4, :4].astype(np.float32).ravel(),
    )


def test_random_patcher_deterministic_per_key(spark):
    arr = RNG.random((8, 8, 1))
    df = _imgs_df(spark, [arr, arr])
    out = {r.img_id: r.patch for r in
           RandomPatcher(4, 2, seed=7, key_col="img_id")(df).collect()}
    a_again = {r.img_id: r.patch for r in
               RandomPatcher(4, 2, seed=7, key_col="img_id")(df).collect()}
    assert out[0] == a_again[0]                      # deterministic
    assert out[0] != out[1]                          # per-key variation


def test_lcs_features_len(spark):
    arr = RNG.random((8, 8, 3))
    df = _imgs_df(spark, [arr])
    f = lcs_features(df, grid=2).first().lcs
    assert len(f) == 2 * 2 * 2 * 3  # cells * (mean,std) * channels


def test_fisher_vector_shapes_and_norm(spark):
    K, d = 3, 4
    rng = np.random.default_rng(5)
    descs = rng.random((10, d)).tolist()
    df = spark.createDataFrame([(0, descs)], "id long, descriptors array<array<double>>")
    out = fisher_vector(
        df,
        gmm_weights=[0.5, 0.3, 0.2],
        gmm_means=rng.random((K, d)),
        gmm_covs=np.full((K, d), 0.5),
    ).first().fv
    assert len(out) == 2 * K * d
    assert abs(np.linalg.norm(out) - 1.0) < 1e-9  # improved-FV L2 normalized


def test_hog_features_vs_naive(spark):
    from keystone_spark.operators.images import hog_features

    rng = np.random.default_rng(11)
    h = w = 8
    g = rng.random((h, w))
    img = {"height": h, "width": w, "n_channels": 1,
           "data": g.astype(np.float32).ravel().tolist()}
    # the null row (missing media) must propagate as a null descriptor
    df = spark.createDataFrame(
        [(0, img), (1, None)],
        "id int, image struct<height:int,width:int,n_channels:int,data:array<float>>",
    )
    rows = hog_features(df, cell=4, bins=9).orderBy("id").collect()
    assert rows[1].hog is None
    got = np.array(rows[0].hog)

    # naive oracle: same definition, double loops
    gf = np.asarray(img["data"], dtype=np.float64).reshape(h, w)
    gy, gx = np.gradient(gf)
    mag = np.hypot(gx, gy)
    ori = np.mod(np.degrees(np.arctan2(gy, gx)), 180.0)
    expected = []
    for cy in range(2):
        for cx in range(2):
            hist = np.zeros(9)
            for y in range(cy * 4, cy * 4 + 4):
                for x in range(cx * 4, cx * 4 + 4):
                    b = min(int(ori[y, x] / 20.0), 8)
                    hist[b] += mag[y, x]
            hist = hist / max(np.linalg.norm(hist), 1e-12)
            expected.extend(hist)
    np.testing.assert_allclose(got, np.array(expected), atol=1e-10)


def test_gmm_recovers_separated_blobs(spark):
    from keystone_spark.operators.learning import GaussianMixtureEstimator

    rng = np.random.default_rng(2)
    X = np.vstack([rng.normal(-4, 0.3, size=(40, 2)), rng.normal(4, 0.3, size=(40, 2))])
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(80)], "id int, features array<double>"
    )
    model = GaussianMixtureEstimator(k=2, seed=9).fit(df)
    out = model(df).orderBy("id").toPandas()
    probs = np.array(out["gmm_probs"].tolist())
    c = probs.argmax(axis=1)
    assert len(set(c[:40])) == 1 and len(set(c[40:])) == 1 and c[0] != c[79]
    # well-separated blobs: responsibilities are near-certain
    assert probs.max(axis=1).min() > 0.99


def test_daisy_features_shape_and_orientation(spark):
    from keystone_spark.operators.images import daisy_features

    h = w = 16
    # vertical edge: gradient points in +x, so the theta=0 bin dominates
    g = np.zeros((h, w), dtype=np.float32)
    g[:, w // 2 :] = 1.0
    img = {"height": h, "width": w, "n_channels": 1, "data": g.ravel().tolist()}
    # the null row (missing media) must propagate as a null descriptor
    df = spark.createDataFrame(
        [(0, img), (1, None)],
        "id int, image struct<height:int,width:int,n_channels:int,data:array<float>>",
    )
    rows = daisy_features(df, bins=4, rings=2, ring_points=6).orderBy("id").collect()
    assert rows[1].daisy is None
    out = np.array(rows[0].daisy)
    assert out.shape == (4 * (1 + 2 * 6),)
    center = out[:4]
    assert center[0] > 0.9          # +x orientation dominates
    assert center[2] < 1e-9          # -x rectified away
    # histograms are L2-normalized (or empty)
    for i in range(0, len(out), 4):
        n = np.linalg.norm(out[i : i + 4])
        assert n < 1.0 + 1e-9


def test_image_ops_null_safe(spark):
    """Convolver/Pooler propagate null images (missing media) as nulls."""
    import numpy as np

    from keystone_spark.operators.images import Convolver, Pooler

    img = {"height": 4, "width": 4, "n_channels": 1, "data": [1.0] * 16}
    df = spark.createDataFrame(
        [(0, img), (1, None)],
        "id int, image struct<height:int,width:int,n_channels:int,data:array<float>>",
    )
    conv = Convolver(np.ones((1, 4)), 2, 2, 1)(df, "image", "conv")
    pooled = Pooler(stride=3, pool="sum")(conv.where("conv is not null"), "conv", "p")
    rows = {r.id: r.conv for r in conv.collect()}
    assert rows[1] is None and rows[0] is not None
    assert pooled.count() == 1


def test_dense_sift_shapes_and_invariances():
    """128-dim descriptors, unit norm, brightness/contrast invariance, and
    the rot90 orientation roll (90 deg = n_angles/4 bins)."""
    from keystone_spark.operators.images import dense_sift

    rng = np.random.default_rng(0)
    img = rng.random((19, 19))
    coords, d = dense_sift(img)
    # 19x19, margin ceil(1.5*4)=6, step 2 -> ys=xs=[6,8,10,12] -> 16 kps
    assert coords.shape == (16, 2) and d.shape == (16, 128)
    assert (d >= 0).all()
    nrm = np.linalg.norm(d, axis=1)
    assert np.allclose(nrm, 1.0, atol=1e-9)

    _, d_bright = dense_sift(img + 0.3)   # gradients unchanged
    assert np.allclose(d, d_bright)
    _, d_contrast = dense_sift(img * 2.0)  # normalization cancels gain
    assert np.allclose(d, d_contrast)

    _, d_rot = dense_sift(np.rot90(img).copy())
    h0 = d.reshape(-1, 16, 8).sum(axis=(0, 1))
    hr = d_rot.reshape(-1, 16, 8).sum(axis=(0, 1))
    assert np.allclose(hr, np.roll(h0, -2), rtol=1e-9)


def test_dense_sift_edge_orientation():
    """A vertical step edge concentrates gradient energy in the horizontal-
    gradient orientation bins (0 / pi); a horizontal edge shifts it by 2."""
    from keystone_spark.operators.images import dense_sift

    v = np.zeros((19, 19))
    v[:, 10:] = 1.0
    h = v.T.copy()
    _, dv = dense_sift(v)
    _, dh = dense_sift(h)
    hv = dv.reshape(-1, 16, 8).sum(axis=(0, 1))
    hh = dh.reshape(-1, 16, 8).sum(axis=(0, 1))
    assert {int(np.argmax(hv)) % 4, int(np.argmax(hh)) % 4} == {0, 2}


def test_sift_extract_spark_and_fisher_vector(spark):
    """sift_extract over image structs -> fisher_vector, the reference's
    ImageNetSiftLcsFV featurization path, end to end."""
    from keystone_spark.operators.images import fisher_vector, sift_extract

    rng = np.random.default_rng(5)
    rows = []
    for i in range(3):
        a = rng.random((19, 19, 1)).astype(np.float32)
        rows.append((i, {"height": 19, "width": 19, "n_channels": 1,
                         "data": a.ravel().tolist()}))
    rows.append((9, None))
    df = spark.createDataFrame(
        rows,
        "id int, image struct<height:int,width:int,n_channels:int,data:array<float>>",
    )
    out = sift_extract(df)
    got = {r.id: r.sift for r in out.collect()}
    assert got[9] is None
    assert len(got[0]) == 16 and len(got[0][0]) == 128

    K, dim = 2, 128
    fv = fisher_vector(
        out.where("sift is not null"),
        gmm_weights=np.full(K, 0.5),
        gmm_means=rng.random((K, dim)),
        gmm_covs=np.full((K, dim), 0.5),
        desc_col="sift",
    )
    r = fv.first()
    assert len(r.fv) == 2 * K * dim
