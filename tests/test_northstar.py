"""North-star operator tests: recall of the approximate/scale paths
against exact computations, multimodal plumbing, hash-family sanity."""

import pytest
from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingled,
    simhash_pairs,
    simhash_sketch,
)
from amazonmsk_emr_tem_data_spark.operators.multimodal import (
    decode_images,
    sample_frames,
    with_binary_payload,
)
from amazonmsk_emr_tem_data_spark.operators.similarity import (
    cosine_near_dup_pairs,
    ivf_topk,
    knn_join,
    lsh_ann_join,
)
from amazonmsk_emr_tem_data_spark.sources.files import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_minhash_slots_are_independent(spark, docs):
    """Regression for the lambda-shadowing bug: the 16 signature slots
    must use DIFFERENT seeded hash functions (a shadowed seed makes
    them all identical)."""
    sh = shingled(docs.limit(5))
    sig = sh.select(*minhash_signature(F.col("shingles"), 4)).first()
    vals = {sig[f"mh{i}"] for i in range(4)}
    assert len(vals) > 1


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """A planted degenerate corpus — every doc is one shared stopword
    shingle plus unique filler — floods LSH buckets. With a cap, the
    over-full buckets are dropped before their id lists materialize and
    candidate pairs stay bounded; genuine near-dup pairs planted on top
    still surface (their collisions come from non-degenerate slots)."""
    n = 40
    rows = [(i, f"common shared stopword unique{i} filler{i} tail{i}") for i in range(n)]
    # plant one true near-dup pair with high overlap
    rows.append((1000, "the quick brown fox jumps over the lazy dog again and again"))
    rows.append((1001, "the quick brown fox jumps over the lazy dog again and once"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=10)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (1000, 1001) in got
    # without the planted pair's bucket, the 40 degenerate docs share
    # only capped buckets — no quadratic 40*39/2 candidate blowup
    assert len(got) < 50

    uncapped = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=10**6)
    assert (1000, 1001) in {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}


def test_simhash_hot_chunk_cap(spark):
    """Same planted-degenerate shape for the SimHash chunk join: chunk
    values shared by more docs than the cap are excluded from the
    self-join; the planted identical pair (hamming 0 via exact-dup
    collapse) still surfaces."""
    n = 30
    rows = [(i, f"common shared stopword base unique{i}") for i in range(n)]
    rows.append((2000, "entirely different content for the planted duplicate pair"))
    rows.append((2001, "entirely different content for the planted duplicate pair"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs(df, max_bucket_size=5).collect()}
    assert out[(2000, 2001)] == 0
    # degenerate docs share hot chunks only → capped out, no n² pairs
    assert len(out) < 60


def test_simhash_identical_and_disjoint_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # identical
            (3, "one two three four five six"),  # disjoint
        ],
        ["doc_id", "text"],
    )
    sk = {r["doc_id"]: r["sk"] for r in simhash_sketch(df).collect()}
    assert sk[1] == sk[2]
    assert sk[1] != sk[3]


def test_simhash_finds_planted_near_dups(spark, docs):
    """Planted near-dups (Jaccard ≥ 0.97 word-3-gram) must be within
    small Hamming distance; simhash_pairs must recover most of them."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    sim = {(r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert exact, "fixture should contain planted near-dups"
    recall = len(exact & sim) / len(exact)
    assert recall >= 0.9, f"simhash recall {recall:.2f} on planted dups"


def test_lsh_ann_recall_vs_exact(spark, emb):
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in cosine_near_dup_pairs(emb, threshold=0.45).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"]) for r in lsh_ann_join(emb, dim=64, threshold=0.45).collect()
    }
    assert approx <= set(exact.keys()) | approx  # approx pairs are verified exact ⇒ subset
    for pair in approx:
        assert pair in exact
    if exact:
        recall = len(set(exact) & approx) / len(exact)
        assert recall >= 0.85, f"LSH recall {recall:.2f}"


def test_ivf_topk_overlaps_exact_knn(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # IVF probes 3/8 k-means cells: self-match must always be found
    # (the query's own cell is its nearest centroid), plus a solid
    # share of true neighbors
    overlap = len(exact_set & approx_set) / len(exact_set)
    assert overlap >= 0.6, f"IVF overlap {overlap:.2f}"
    for q in range(5):
        assert (q, q) in approx_set  # self is in the probed cell


def test_multimodal_decode_plumbing(spark, docs):
    out = decode_images(with_binary_payload(docs), fake=True)
    rows = out.collect()
    assert len(rows) == docs.count()
    r0 = rows[0]
    assert 16 <= r0["width"] < 80 and 16 <= r0["height"] < 80
    # deterministic: same input → same features
    rows2 = decode_images(with_binary_payload(docs), fake=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_multimodal_decode_real_path_is_gated(spark, docs):
    out = decode_images(with_binary_payload(docs.limit(1)), fake=False)
    with pytest.raises(Exception, match="NotImplementedError|image codecs"):
        out.collect()


def _bmp_bytes(arr, top_down=False):
    """Minimal BI_RGB BMP encoder (BITMAPINFOHEADER) for fixtures:
    arr is H×W×C uint8 with C in (1, 3, 4); rows 4-byte padded,
    bottom-up unless top_down."""
    import struct

    import numpy as np

    h, w, c = arr.shape
    bpp = c * 8
    row_bytes = (w * c + 3) // 4 * 4
    pix_off = 14 + 40
    rows = arr if top_down else arr[::-1]
    raster = b"".join(
        row.tobytes() + b"\x00" * (row_bytes - w * c)
        for row in rows.reshape(h, w * c)
    )
    header = struct.pack("<2sIHHI", b"BM", pix_off + len(raster), 0, 0, pix_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0,
        len(raster), 2835, 2835, 0, 0,
    )
    assert isinstance(arr, np.ndarray) and arr.dtype == np.uint8
    return header + dib + raster


def _pnm_bytes(arr, comment=False):
    """Binary PPM (C=3) / PGM (C=1) encoder for fixtures."""
    h, w, c = arr.shape
    magic = b"P6" if c == 3 else b"P5"
    head = magic + (b"\n# fixture\n" if comment else b"\n")
    head += f"{w} {h}\n255\n".encode("ascii")
    return head + arr.tobytes()


def test_multimodal_real_decode_bmp_ppm(spark):
    """fake=False is a REAL pure-NumPy decoder for uncompressed
    BMP/PPM/PGM: dimensions, channel count, and mean intensity must
    match the numpy reference for encoded images of known shape —
    including odd-width BMP row padding, top-down (negative height)
    BMP, 32-bit BMP, and a PPM with a header comment."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    rng = np.random.default_rng(7)
    images = {
        1: ("bmp", rng.integers(0, 256, (3, 5, 3), dtype=np.uint8), {}),
        2: ("bmp", rng.integers(0, 256, (4, 7, 3), dtype=np.uint8), {"top_down": True}),
        3: ("bmp", rng.integers(0, 256, (2, 2, 4), dtype=np.uint8), {}),
        4: ("ppm", rng.integers(0, 256, (6, 5, 3), dtype=np.uint8), {"comment": True}),
        5: ("ppm", rng.integers(0, 256, (3, 3, 1), dtype=np.uint8), {}),
    }
    payloads = []
    for doc_id, (kind, arr, kw) in images.items():
        data = _bmp_bytes(arr, **kw) if kind == "bmp" else _pnm_bytes(arr, **kw)
        payloads.append((doc_id, bytearray(data)))
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert len(out) == len(images)
    for doc_id, (kind, arr, kw) in images.items():
        r = out[doc_id]
        h, w, c = arr.shape
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, c), doc_id
        assert r["mean_intensity"] == pytest.approx(float(arr.mean()), abs=1e-9)


def _png_bytes(arr, filters=None, interlace=0, bit_depth=8):
    """Minimal PNG encoder for fixtures: 8-bit gray/gray-alpha/RGB/RGBA,
    one chosen filter type per scanline (default: cycle 0..4 so every
    unfilter branch is exercised), zlib-compressed, real CRCs."""
    import struct
    import zlib

    import numpy as np

    h, w, c = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    filters = filters if filters is not None else [y % 5 for y in range(h)]

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    flat = arr.reshape(h, w * c).astype(np.int64)
    bpp = c
    raster = b""
    for y in range(h):
        ft = filters[y]
        line = flat[y]
        prior = flat[y - 1] if y > 0 else np.zeros(w * c, np.int64)
        if ft == 0:
            out = line
        elif ft == 1:
            left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            out = (line - left) & 0xFF
        elif ft == 2:
            out = (line - prior) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            out = (line - ((left + prior) >> 1)) & 0xFF
        else:  # Paeth
            out = np.zeros(w * c, np.int64)
            for x in range(w * c):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                cc = int(prior[x - bpp]) if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out[x] = (int(line[x]) - pred) & 0xFF
        raster += bytes([ft]) + out.astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


# ---- baseline JPEG fixture encoder (ITU T.81 Annex K tables) -------
_JQ_L = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JQ_C = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32
_JZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_JDC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
_JDC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
          list(range(12)))
_JAC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
])
_JAC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
])


def _jpeg_huff_codes(bits, vals):
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (ln, code)
            k += 1
            code += 1
        code <<= 1
    return codes


def _jpeg_bytes(arr, quality=92, subsample=False, restart=0):
    """Baseline-sequential JPEG encoder for fixtures: grayscale or RGB
    (4:4:4, or 4:2:0 with ``subsample=True``), Annex K quantization
    tables with libjpeg quality scaling, Annex K Huffman tables,
    optional DRI restart interval, 0xFF byte stuffing — the
    fixture-encoder twin of the decoder in _pure_decoders() (same
    pattern as _png_bytes for the r8 PNG work)."""
    import struct

    import numpy as np

    h, w, c = arr.shape
    assert c in (1, 3)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((np.array(_JQ_L, np.int64) * scale + 50) // 100, 1, 255)
    qc = np.clip((np.array(_JQ_C, np.int64) * scale + 50) // 100, 1, 255)
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    M = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    M[0, :] *= 1 / np.sqrt(2.0)

    if c == 3:
        rgb = arr.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = (128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1]
              + 0.5 * rgb[..., 2])
        cr = (128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1]
              - 0.081312 * rgb[..., 2])
        planes = [y, cb, cr]
    else:
        planes = [arr[..., 0].astype(np.float64)]
    # subsample: False = 4:4:4, True = 4:2:0, or an explicit luma
    # (h, v) tuple — (2, 1) = 4:2:2
    if c == 3 and subsample:
        luma = (2, 2) if subsample is True else tuple(subsample)
        samp = [luma, (1, 1), (1, 1)]
    else:
        samp = [(1, 1)] * c
    h_max = max(s[0] for s in samp)
    v_max = max(s[1] for s in samp)
    mcux = -(-w // (8 * h_max))
    mcuy = -(-h // (8 * v_max))
    comp_planes = []
    for p, (hs, vs) in zip(planes, samp):
        if (hs, vs) != (h_max, v_max):
            fy, fx = v_max // vs, h_max // hs
            ph = -(-p.shape[0] // fy) * fy
            pw = -(-p.shape[1] // fx) * fx
            pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                        mode="edge")
            p = pp.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * vs * 8, mcux * hs * 8
        p = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                   mode="edge")
        comp_planes.append(p)

    out, acc = bytearray(), [0, 0]  # bitbuf, nbits

    def put(lncode):
        ln, code = lncode
        acc[0] = (acc[0] << ln) | code
        acc[1] += ln
        while acc[1] >= 8:
            acc[1] -= 8
            b = (acc[0] >> acc[1]) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # byte stuffing

    def flush():
        if acc[1]:
            ln = 8 - acc[1]
            put((ln, (1 << ln) - 1))

    dcl, acl = _jpeg_huff_codes(*_JDC_L), _jpeg_huff_codes(*_JAC_L)
    dcc, acct = _jpeg_huff_codes(*_JDC_C), _jpeg_huff_codes(*_JAC_C)

    def mag_bits(v):
        s = int(v).bit_length() if v > 0 else int(-v).bit_length()
        return s, (v if v >= 0 else v + (1 << s) - 1)

    dc_pred, rst_n = [0] * c, 0
    for m_idx in range(mcux * mcuy):
        if restart and m_idx and m_idx % restart == 0:
            flush()
            out.extend(b"\xff" + bytes([0xD0 + (rst_n & 7)]))
            rst_n += 1
            dc_pred = [0] * c
            acc[0] = acc[1] = 0
        my, mx = divmod(m_idx, mcux)
        for ci in range(c):
            hs, vs = samp[ci]
            q = ql if ci == 0 else qc
            dct_t, act_t = (dcl, acl) if ci == 0 else (dcc, acct)
            for byi in range(vs):
                for bxi in range(hs):
                    y0, x0 = (my * vs + byi) * 8, (mx * hs + bxi) * 8
                    blk = comp_planes[ci][y0:y0 + 8, x0:x0 + 8] - 128.0
                    fq = M @ blk @ M.T
                    zz = np.array([fq.flat[_JZZ[k]] for k in range(64)])
                    qz = np.round(zz / q).astype(np.int64)
                    diff = int(qz[0]) - dc_pred[ci]
                    dc_pred[ci] = int(qz[0])
                    s, bits = mag_bits(diff)
                    put(dct_t[s])
                    if s:
                        put((s, bits))
                    run = 0
                    last_nz = max(
                        (k for k in range(1, 64) if qz[k]), default=0
                    )
                    for k in range(1, 64):
                        if k > last_nz:
                            put(act_t[0x00])  # EOB
                            break
                        v = int(qz[k])
                        if v == 0:
                            run += 1
                            continue
                        while run >= 16:
                            put(act_t[0xF0])  # ZRL
                            run -= 16
                        s, bits = mag_bits(v)
                        put(act_t[(run << 4) | s])
                        put((s, bits))
                        run = 0
    flush()

    def seg(marker, body):
        return (b"\xff" + bytes([marker])
                + struct.pack(">H", len(body) + 2) + body)

    hdr = bytearray(b"\xff\xd8")
    hdr += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    hdr += seg(0xDB, bytes([0x00]) + bytes(int(v) for v in ql))
    if c == 3:
        hdr += seg(0xDB, bytes([0x01]) + bytes(int(v) for v in qc))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, c))
    for ci in range(c):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    hdr += seg(0xC0, bytes(sof))

    def dht(tc, th, bv):
        bits, vals = bv
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    hdr += dht(0, 0, _JDC_L) + dht(1, 0, _JAC_L)
    if c == 3:
        hdr += dht(0, 1, _JDC_C) + dht(1, 1, _JAC_C)
    if restart:
        hdr += seg(0xDD, struct.pack(">H", restart))
    sos = bytearray([c])
    for ci in range(c):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    hdr += seg(0xDA, bytes(sos))
    return bytes(hdr) + bytes(out) + b"\xff\xd9"


def test_multimodal_real_decode_png(spark):
    """fake=False decodes real encoded PNGs (stdlib zlib + NumPy
    unfilter): gray, gray-alpha, RGB, and RGBA fixtures whose
    scanlines cycle through ALL five filter types (None/Sub/Up/
    Average/Paeth) must reproduce exact dimensions, channel count,
    and mean intensity — r7 VERDICT ask #5."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    rng = np.random.default_rng(11)
    images = {
        1: rng.integers(0, 256, (7, 5, 3), dtype=np.uint8),   # RGB
        2: rng.integers(0, 256, (6, 4, 1), dtype=np.uint8),   # gray
        3: rng.integers(0, 256, (5, 5, 4), dtype=np.uint8),   # RGBA
        4: rng.integers(0, 256, (9, 3, 2), dtype=np.uint8),   # gray+A
        # all-Paeth and all-Average images (every row the hard branch)
        5: rng.integers(0, 256, (6, 6, 3), dtype=np.uint8),
        6: rng.integers(0, 256, (6, 6, 3), dtype=np.uint8),
    }
    payloads = [
        (doc_id, bytearray(_png_bytes(
            arr,
            filters=[4] * arr.shape[0] if doc_id == 5
            else ([3] * arr.shape[0] if doc_id == 6 else None),
        )))
        for doc_id, arr in images.items()
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert len(out) == len(images)
    for doc_id, arr in images.items():
        r = out[doc_id]
        h, w, c = arr.shape
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, c), doc_id
        assert r["mean_intensity"] == pytest.approx(float(arr.mean()), abs=1e-9)


def _png_palette_bytes(rgb, filters=None):
    """Palette (color_type 3) PNG encoder for fixtures: unique colors
    -> PLTE chunk, raster stored as 8-bit indices (<= 256 colors)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = rgb.shape
    assert c == 3
    flat = rgb.reshape(-1, 3)
    colors, inv = np.unique(flat, axis=0, return_inverse=True)
    assert len(colors) <= 256
    idx = inv.reshape(h, w).astype(np.int64)
    filters = filters if filters is not None else [y % 5 for y in range(h)]

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raster = b""
    for y in range(h):
        ft = filters[y]
        line = idx[y]
        prior = idx[y - 1] if y > 0 else np.zeros(w, np.int64)
        if ft == 0:
            out = line
        elif ft == 1:
            left = np.concatenate([np.zeros(1, np.int64), line[:-1]])
            out = (line - left) & 0xFF
        elif ft == 2:
            out = (line - prior) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(1, np.int64), line[:-1]])
            out = (line - ((left + prior) >> 1)) & 0xFF
        else:  # Paeth, bpp=1
            out = np.zeros(w, np.int64)
            for x in range(w):
                a = int(line[x - 1]) if x >= 1 else 0
                b = int(prior[x])
                cc = int(prior[x - 1]) if x >= 1 else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out[x] = (int(line[x]) - pred) & 0xFF
        raster += bytes([ft]) + out.astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", colors.astype(np.uint8).tobytes())
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def test_multimodal_palette_png_decodes(spark):
    """Palette (color_type 3) PNG really decodes (new r9): a
    16-color fixture must reproduce the exact dimensions and mean of
    the truecolor raster it indexes, through every filter type on the
    1-byte-per-pixel index plane — and its aHash must equal the
    truecolor BMP twin bit-for-bit."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        ahash_images,
        decode_images,
    )

    rng = np.random.default_rng(17)
    palette = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (12, 9))
    rgb = palette[idx]
    df = spark.createDataFrame(
        [
            (1, bytearray(_png_palette_bytes(rgb))),
            (2, bytearray(_bmp_bytes(rgb))),
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_channels"]) == (
        9, 12, 3,
    )
    assert out[1]["mean_intensity"] == pytest.approx(
        float(rgb.mean()), abs=1e-9
    )
    hashes = {
        r["doc_id"]: r["ahash"]
        for r in ahash_images(df, fake=False).collect()
    }
    assert hashes[1] == hashes[2]


def test_multimodal_png_unsupported_variants_are_gated(spark):
    """Interlaced (Adam7) and 16-bit PNGs must raise the explicit
    NotImplementedError stub, never silently mis-decode."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    for kw in ({"interlace": 1}, {"bit_depth": 16}):
        df = spark.createDataFrame(
            [(1, bytearray(_png_bytes(arr, **kw)))],
            "doc_id long, payload binary",
        )
        with pytest.raises(Exception, match="NotImplementedError|PNG"):
            decode_images(df, fake=False).collect()


def test_multimodal_ahash_decodes_png(spark):
    """ahash consumes REAL PNG pixels: the aHash of a PNG encoding and
    of a BMP encoding of the SAME pixel array must be identical (the
    perceptual hash sees pixels, not container bytes)."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import ahash_images

    rng = np.random.default_rng(13)
    arr = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(arr))), (2, bytearray(_bmp_bytes(arr)))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["ahash"] for r in ahash_images(df, fake=False).collect()}
    assert got[1] == got[2]


def test_multimodal_real_decode_jpeg(spark):
    """fake=False decodes real baseline JPEG (r8 VERDICT ask #2):
    gray, RGB 4:4:4, RGB 4:2:0 chroma-subsampled, restart-interval,
    and odd-size (non-multiple-of-8) fixtures from the Annex K
    fixture encoder must reproduce exact dimensions and channel
    count, with mean intensity within the lossy-quantization budget
    of the original raster."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [
            np.clip(yy * 6, 0, 255),
            np.clip(xx * 4, 0, 255),
            np.clip(120 + yy * 2, 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    images = {
        1: (img[:, :, :1], {}),
        2: (img, {}),
        3: (img, {"subsample": True}),        # 4:2:0
        4: (img, {"restart": 2}),
        5: (img[:19, :21], {}),  # exercises edge-block cropping
        6: (img, {"subsample": (2, 1)}),      # 4:2:2
    }
    payloads = [
        (doc_id, bytearray(_jpeg_bytes(arr, quality=92, **kw)))
        for doc_id, (arr, kw) in images.items()
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert len(out) == len(images)
    for doc_id, (arr, _kw) in images.items():
        r = out[doc_id]
        h, w, c = arr.shape
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, c), doc_id
        assert r["mean_intensity"] == pytest.approx(
            float(arr.mean()), abs=2.0
        ), doc_id


def test_multimodal_ahash_jpeg_matches_bmp_twin(spark):
    """The aHash of a baseline JPEG encoding and of a BMP encoding of
    the SAME raster must be bit-identical — the re-encoding robustness
    the perceptual tier exists for, now proved across a genuinely
    lossy codec (r8 VERDICT ask #2's done-gate)."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import ahash_images

    # high-contrast block pattern: JPEG ringing (±20 levels) cannot
    # flip 0-vs-255 blocks across the ~127 mean
    yy, xx = np.mgrid[0:32, 0:32]
    gray = (((yy // 8) + (xx // 8)) % 2 * 255).astype(np.uint8)
    arr = np.stack([gray, gray, gray], axis=2)
    df = spark.createDataFrame(
        [
            (1, bytearray(_jpeg_bytes(arr, quality=92))),
            (2, bytearray(_bmp_bytes(arr))),
            (3, bytearray(_jpeg_bytes(arr, quality=92, subsample=True))),
        ],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["ahash"] for r in ahash_images(df, fake=False).collect()}
    assert got[1] == got[2]
    assert got[3] == got[2]


def test_multimodal_jpeg_fill_bytes_before_marker(spark):
    """T.81 B.1.1.2 (r9 ADVICE): any number of 0xFF fill bytes may
    precede a marker code — a second 0xFF must be skipped, not
    misparsed as length-prefixed marker 0xFF. Injecting fill bytes
    after SOI must leave the decode byte-identical."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    plain = _jpeg_bytes(arr, quality=92)
    filled = plain[:2] + b"\xff\xff\xff" + plain[2:]
    df = spark.createDataFrame(
        [(1, bytearray(plain)), (2, bytearray(filled))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert out[1]["mean_intensity"] == out[2]["mean_intensity"]
    assert (out[2]["width"], out[2]["height"]) == (16, 16)


def test_multimodal_jpeg_truncation_raises_valueerror(spark):
    """Truncated streams must fail with the decoder's uniform
    ValueError (r9 ADVICE: the restart path indexed past the buffer
    and leaked IndexError): cut inside the header, inside entropy
    data, and exactly at a restart marker."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    full = _jpeg_bytes(arr, quality=92, restart=2)
    rst = full.find(b"\xff\xd0")
    assert rst > 0, "fixture must contain a restart marker"
    cuts = {
        1: full[:6],          # mid header segment
        2: full[: rst + 1],   # dangling 0xFF where RSTn belongs
        3: full[:-4],         # mid entropy data / missing EOI
    }
    for payload in cuts.values():
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id long, payload binary"
        )
        with pytest.raises(Exception) as exc:
            decode_images(df, fake=False).collect()
        assert "IndexError" not in str(exc.value)
        assert "ValueError" in str(exc.value) or "truncated" in str(exc.value)


def test_multimodal_arithmetic_jpeg_is_gated(spark):
    """Arithmetic-coded JPEG (SOF10) stays behind the explicit stub —
    a guarded raise, never a silently wrong decode. (Progressive SOF2
    graduated to a real decode in r13, as baseline did in r9 — its
    parity tests live in tests/test_round13.py.)"""
    import struct

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    sof10 = (
        b"\xff\xd8"
        + b"\xff\xca" + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    )
    df = spark.createDataFrame(
        [(1, bytearray(sof10))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|sequential"):
        decode_images(df, fake=False).collect()


def test_multimodal_real_decode_rejects_compressed(spark):
    """Formats without a native decoder stay behind the explicit stub:
    a WebP-magic payload must raise, not silently pseudo-decode.
    (JPEG graduated from this list in r9 — it now really decodes.)"""
    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_images

    df = spark.createDataFrame(
        [(1, bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 64))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|BMP"):
        decode_images(df, fake=False).collect()


def test_multimodal_frame_explosion(spark, docs):
    n_docs = docs.count()
    out = sample_frames(with_binary_payload(docs), n_frames=4)
    assert out.count() == 4 * n_docs
    per_doc = out.groupBy("doc_id").count().select(F.min("count"), F.max("count")).first()
    assert per_doc[0] == 4 and per_doc[1] == 4


def test_connected_components_long_chain_converges_fast(spark):
    """A 60-node chain has diameter 59: plain min-label propagation
    would need 59 rounds, far beyond max_iter=10 — pointer jumping
    must settle it (all labels 0) within the budget, without the
    non-convergence warning path. small_graph_edges=0 forces the
    iterative path (the union-find fast path would hide the bug)."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import connected_components

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    comp = connected_components(pairs, nodes, max_iter=10, small_graph_edges=0)
    assert {r["comp"] for r in comp.collect()} == {0}


def test_connected_components_both_paths_agree(spark):
    """The one-task union-find fast path and the iterative propagation
    must emit identical (node, comp) labels — two blobs, a bridge node,
    and two isolated nodes."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 99, 100]], ["doc_id"]
    )
    fast = {
        (r["doc_id"], r["comp"])
        for r in connected_components(pairs, nodes).collect()
    }
    slow = {
        (r["doc_id"], r["comp"])
        for r in connected_components(
            pairs, nodes, small_graph_edges=0
        ).collect()
    }
    assert fast == slow
    assert (99, 99) in fast and (20, 20) in fast and (12, 1) in fast


def test_decontamination_flags_planted_quote(spark):
    """A training doc quoting >= 8 consecutive tokens of an eval doc
    must be flagged; an unrelated doc must not; a short (<8 token) doc
    identical to a short eval doc matches via its whole-string gram."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        ngram_overlap_decontaminate,
    )

    eval_docs = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (101, "short eval question"),
        ],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # quotes 9 consecutive eval tokens inside other text
            (1, "intro words the quick brown fox jumps over the lazy dog and more filler text here to dilute"),
            (2, "completely unrelated content about spark partitions and shuffles in a long query plan"),
            (3, "short eval question"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in ngram_overlap_decontaminate(train, eval_docs).collect()
    }
    assert out[1]["n_contaminated"] == 2  # two 8-grams of the 9-token quote
    assert out[2]["n_contaminated"] == 0 and not out[2]["is_contaminated"]
    assert out[3]["is_contaminated"] and out[3]["contamination_frac"] == 1.0
    assert out[1]["is_contaminated"] == (
        out[1]["n_contaminated"] * 5 >= out[1]["n_grams"]
    )


def test_bpe_learns_textbook_merges(spark):
    """The classic Sennrich corpus: merges must come out in the
    published order (es → est → est</w> → lo → low), deterministically."""
    from amazonmsk_emr_tem_data_spark.operators.bpe import (
        bpe_segment,
        learn_bpe_merges,
    )

    corpus = spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower"),
            (3, "newest newest newest newest newest newest"),
            (4, "widest widest widest"),
        ],
        ["doc_id", "text"],
    )
    merges = learn_bpe_merges(corpus, n_merges=5)
    assert [(a, b) for (_, a, b, _n) in merges] == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]
    assert merges[0][3] == 9  # es: newest*6 + widest*3

    seg = {r["doc_id"]: r["bpe_token_count"]
           for r in bpe_segment(corpus, merges).collect()}
    # after 5 merges: low -> [low, </w>] = 2 per word
    assert seg[1] == 10
    # newest -> [n, e, w, est</w>] = 4 per word (e+w merges only later)
    assert seg[3] == 24

    # determinism: same corpus, same merges
    assert learn_bpe_merges(corpus, n_merges=5) == merges


def test_media_near_dup_finds_identical_payloads(spark):
    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        media_near_dup_pairs,
        with_binary_payload,
    )

    df = spark.createDataFrame(
        [
            (1, "identical media payload content"),
            (2, "identical media payload content"),   # exact dup of 1
            (3, "identical media payload content!"),  # near (1 extra byte)
            (4, "completely different bytes here with other chars"),
        ],
        ["doc_id", "text"],
    )
    src = with_binary_payload(df)
    out = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in media_near_dup_pairs(src, threshold=0.98).collect()
    }
    assert out[(1, 2)] == 1.0  # identical payloads: exact-dup collapse path
    assert (1, 3) in out and out[(1, 3)] >= 0.98
    assert not any(4 in p for p in out)
    # determinism: a second run returns the identical pair set + scores
    out2 = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in media_near_dup_pairs(src, threshold=0.98).collect()
    }
    assert out == out2


def test_connected_components_known_graph(spark):
    """CC on a hand-built graph: a 4-node chain (transitive closure —
    pairwise ops alone cannot produce it), a 2-node blob, and an
    isolated node. Labels must converge to the min node id reachable,
    and the isolated node must keep its own label."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 99]], ["doc_id"]
    )
    # chain 1-2-3-4 (diameter 3 forces >1 propagation round), blob 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["comp"]
        for r in connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_canonical_flags(spark):
    """dedup_clusters marks exactly one canonical doc (the min id) per
    cluster and reports the right cluster sizes, including size-1
    clusters for unique docs."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import dedup_clusters

    rows = [
        (0, "spark shuffles the data across the cluster nodes quickly"),
        (1, "spark shuffles the data across the cluster nodes quickly"),
        (2, "spark shuffles the data across the cluster nodes slowly"),
        (3, "an entirely different document about ducks and ponds here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_clusters(df, threshold=0.6).collect()}
    assert len(out) == 4
    # 0,1 exact dups; 2 near-dup of both -> one cluster rooted at 0
    assert out[0]["cluster_id"] == out[1]["cluster_id"] == out[2]["cluster_id"]
    assert out[0]["cluster_size"] == 3
    assert out[0]["is_canonical"] and not out[1]["is_canonical"]
    assert out[3]["cluster_size"] == 1 and out[3]["is_canonical"]


def test_pii_redaction_planted(spark):
    from amazonmsk_emr_tem_data_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 now"),
            (2, "server at 192.168.1.250 and 10.0.0.1, mail root@host.io"),
            (3, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    counts = pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[c.alias(n) for n, c in counts.items()],
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ip"]) == (1, 1, 0)
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ip"]) == (1, 0, 2)
    assert (out[3]["n_email"], out[3]["n_phone"], out[3]["n_ip"]) == (0, 0, 0)
    assert out[1]["red"] == "contact <EMAIL> or <PHONE> now"
    assert out[2]["red"] == "server at <IP> and <IP>, mail <EMAIL>"
    assert out[3]["red"] == "no pii here at all"


def test_int8_quantize_bounds_and_reconstruction(spark, emb):
    from amazonmsk_emr_tem_data_spark.operators.similarity import int8_quantize

    parts = int8_quantize("embedding")
    rows = emb.select(
        F.array_min(parts["q"]).alias("qmin"),
        F.array_max(parts["q"]).alias("qmax"),
        parts["scale"].alias("scale"),
    ).collect()
    for r in rows:
        assert -127 <= r["qmin"] <= r["qmax"] <= 127
        assert r["scale"] > 0
    # reconstruction cosine must be high for 64-dim int8
    from amazonmsk_emr_tem_data_spark.queries._tpch_corpus import (
        embedding_int8_quantize,
    )

    recon = embedding_int8_quantize(
        spark, "/root/testdata/sf0.001"
    ).agg(F.min("recon_cos")).first()[0]
    assert recon > 0.999


def test_dup_ngram_frac_edges(spark):
    """Repetition signal: 0.0 for docs shorter than n, 0.0 for all-
    distinct bigrams, and the exact fraction for a known repeat."""
    from amazonmsk_emr_tem_data_spark.functions.text import dup_ngram_frac

    rows = [
        (0, "one"),  # shorter than n=2
        (1, "a b c d"),  # 3 distinct bigrams
        (2, "a b a b a b"),  # 5 bigrams, 2 distinct -> 0.6
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", dup_ngram_frac("text", 2).alias("f")
        ).collect()
    }
    assert got[0] == 0.0
    assert got[1] == 0.0
    assert abs(got[2] - 0.6) < 1e-12


def test_connected_components_node_gate_routes_path_graph_distributed(spark):
    """The union-find fast path holds a parent-dict entry per DISTINCT
    NODE, so a path graph (edges ~= nodes) must be gated on node count,
    not edge count alone: a 5M-edge chain is only ~80 MB of edge longs
    but ~0.5 GB of Python dict in ONE task. With a node gate below the
    chain's node count the distributed pointer-jumping path must be
    taken (observable: >1 partition in the output plan's lineage — the
    fast path coalesces to exactly 1) and labels must still be exact."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import connected_components

    n = 512  # chain: 511 edges, 512 nodes — a scaled-down worst case
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    # node gate excludes the graph even though the edge gate admits it
    comp = connected_components(
        pairs, nodes, small_graph_edges=100_000, small_graph_nodes=256
    )
    assert {r["comp"] for r in comp.collect()} == {0}
    # same graph under a node gate that admits it: fast path, same labels
    fast = connected_components(
        pairs, nodes, small_graph_edges=100_000, small_graph_nodes=100_000
    )
    assert {r["comp"] for r in fast.collect()} == {0}


def test_pq_adc_topk_overlaps_exact_knn(spark, emb):
    """ADC ranks by Σ‖qⱼ−c_code‖² on unit vectors (= 2−2·cos up to
    quantization). The synthetic fixtures are ISOTROPIC NOISE — PQ's
    worst case: the rank-2 exact neighbor sits at cos≈0.33, barely
    above the corpus noise floor, so 16-way-per-subspace quantization
    error swamps much of the inter-neighbor signal (real embedding
    corpora are clustered, where PQ earns its 16× memory win — Jégou
    et al. 2011 §V). The checks that must hold even here: self-matches
    rank FIRST (a vector's own codes are its nearest centroids →
    minimal reconstruction error), and overlap with the exact top-5
    stays well above chance (5/500 = 1%). Value-level exactness of
    train/encode/ADC is the oracle hash-check's job, not this floor's."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        knn_join, pq_adc_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(emb, queries, k=5).collect()
    approx = pq_adc_topk(emb, k=5, n_queries=5).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    overlap = len(exact_set & approx_set) / len(exact_set)
    assert overlap >= 0.15, f"PQ-ADC overlap {overlap:.2f} vs 0.01 chance"
    by_query = {}
    for r in approx:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for q in range(5):
        assert min(by_query[q])[1] == q, "self-match must rank first"


def test_pq_codes_compress_and_reconstruct(spark, emb):
    """Encoding sanity: every code in [0, ksub); codes are not
    degenerate (a single cell swallowing the corpus would make ADC
    distances constant); the encoded table carries only m ints."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        pq_encode, pq_train,
    )

    books = pq_train(emb, m=8, ksub=16, iters=3)
    enc = pq_encode(emb, books)
    assert enc.columns == ["vec_id"] + [f"code{j}" for j in range(1, 9)]
    stats = enc.agg(
        *[F.min(f"code{j}").alias(f"mn{j}") for j in range(1, 9)],
        *[F.max(f"code{j}").alias(f"mx{j}") for j in range(1, 9)],
        *[F.countDistinct(f"code{j}").alias(f"nd{j}") for j in range(1, 9)],
    ).first()
    for j in range(1, 9):
        assert 0 <= stats[f"mn{j}"] and stats[f"mx{j}"] <= 15
        assert stats[f"nd{j}"] >= 4, f"subspace {j} degenerate"


def test_quality_sort_shards_concatenation_is_global_order(spark, sf_dir):
    """The operator's whole point: reading shard 0..S-1, each in
    (quality desc, doc_id) order, must reproduce the exact global
    descending-quality order, with near-balanced shard sizes."""
    from amazonmsk_emr_tem_data_spark.queries._graph_ann import (
        doc_quality_sort_shards,
    )

    rows = sorted(
        [tuple(r) for r in doc_quality_sort_shards(spark, sf_dir).collect()],
        key=lambda t: (t[2], t[3]),  # (sort_shard, shard_pos)
    )
    keys = [(-t[1], t[0]) for t in rows]  # (quality desc, doc_id asc)
    assert keys == sorted(keys), "shard concatenation != global order"
    from collections import Counter

    sizes = Counter(t[2] for t in rows)
    assert len(sizes) == 8
    assert max(sizes.values()) - min(sizes.values()) <= max(
        2, len(rows) // 100
    ), f"shards unbalanced: {sizes}"


def test_ivfpq_topk_self_match_and_overlap(spark, emb):
    """IVF-PQ: the query's own cell is its nearest coarse centroid, so
    the self vector is always probed, and its codes carry the minimal
    reconstruction error → self ranks first. Overlap with exact top-5
    stays well above chance despite the double quantization (cell
    pruning ∘ 16-way PQ) on isotropic-noise fixtures (PQ's worst
    case — see test_pq_adc_topk_overlaps_exact_knn)."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        ivfpq_topk, knn_join,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(emb, queries, k=5).collect()
    approx = ivfpq_topk(emb, k=5, n_queries=5).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    overlap = len(exact_set & approx_set) / len(exact_set)
    assert overlap >= 0.1, f"IVF-PQ overlap {overlap:.2f} vs 0.01 chance"
    by_query = {}
    for r in approx:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for q in range(5):
        assert min(by_query[q])[1] == q, "self-match must rank first"


def test_pq_rerank_recovers_recall_and_self_match(spark, emb):
    """The refine stage's guarantee, checkable without thresholds: an
    exact-top-k item that survived into the shortlist MUST appear in
    the reranked top-k (at most k−1 vectors beat it globally), so
    rerank overlap with exact k-NN is >= the raw ADC overlap — on the
    same shortlist, exact re-scoring can only help. Self-matches score
    cos=1.0 exactly and must rank first."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        knn_join, pq_adc_topk, pq_rerank_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in knn_join(emb, queries, k=5).collect()}
    adc = {(r["query_id"], r["vec_id"])
           for r in pq_adc_topk(emb, k=5, n_queries=5).collect()}
    rer = pq_rerank_topk(emb, k=5, shortlist_k=20, n_queries=5).collect()
    rer_set = {(r["query_id"], r["vec_id"]) for r in rer}
    assert len(rer_set & exact) >= len(adc & exact), (
        "exact rerank of a superset shortlist lost recall vs raw ADC"
    )
    for q in range(5):
        top1 = min((r["rerank"], r["vec_id"]) for r in rer if r["query_id"] == q)
        assert top1[1] == q, "self-match must rerank first"


def test_dup_span_removal_matches_bruteforce_interval_union(spark, sf_dir):
    """Independent check of the lag-window interval-union math: a
    plain Python re-implementation (explicit per-token coverage sets
    over the same normalization/spans/dup rule) must agree exactly
    with the distributed min(span_len, gap) formulation on the real
    fixture corpus."""
    import re as _re
    from collections import defaultdict

    import duckdb

    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {
        d: _re.sub(r"\s+", " ", t).strip().lower().split(" ")
        for d, t in rows
    }
    span_docs = defaultdict(set)
    doc_spans = {}
    for d, w in toks.items():
        n = len(w)
        starts = range(1, n - 6) if n >= 8 else [1]
        spans = [
            (i, " ".join(w[i - 1:i + 7]) if n >= 8 else " ".join(w))
            for i in starts
        ]
        doc_spans[d] = spans
        for _, s in spans:
            span_docs[s].add(d)
    expected = {}
    for d, w in toks.items():
        n = len(w)
        covered = set()
        for i, s in doc_spans[d]:
            if len(span_docs[s]) >= 2:
                covered.update(range(i, min(i + 8, n + 1)))
        expected[d] = (n, len(covered))
    got = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"])
        for r in REGISTRY["doc_dup_span_removal"][0](spark, sf_dir).collect()
    }
    assert got == expected


def test_hybrid_rrf_fuses_both_rankers(spark, sf_dir):
    """The fusion must actually fuse: every fused doc comes from at
    least one ranker pool, the reciprocal sums check out against the
    emitted ranks, and (on the real fixtures) the fused order differs
    from the pure-BM25 order — two signals, not a passthrough."""
    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    rows = REGISTRY["hybrid_rrf_search"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        expect = 0
        if r["lex_rank"] is not None:
            expect += 1000000 // (60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            expect += 1000000 // (60 + r["sem_rank"])
        assert r["rrf_micro"] == expect
    fused_order = [r["doc_id"] for r in sorted(rows, key=lambda r: r["fused_rank"])]
    lex_order = [
        r["doc_id"]
        for r in sorted(
            (r for r in rows if r["lex_rank"] is not None),
            key=lambda r: r["lex_rank"],
        )
    ]
    assert fused_order != lex_order, "fusion degenerated to the BM25 order"


def test_cross_corpus_near_dup_best_match_semantics(spark):
    """Hand-built corpus: the new doc pairs with BOTH corpus docs at
    jaccard 1.0 (one exact copy, one same-shingle-set reorder... kept
    simple: two exact copies) — the argmax must pick the SMALLEST
    corpus id; a new doc below threshold must not appear; a new doc
    that exactly copies another NEW doc inherits its group rep's
    match."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        cross_corpus_near_dup,
    )

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (12, "the quick brown fox jumps over the lazy dog"),  # copy, larger id
            (14, "completely unrelated corpus text about spark tables"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # exact vs 10+12
            (3, "the quick brown fox jumps over the lazy dog"),   # exact copy of 1
            (5, "nothing in common with anything here at all ok"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in cross_corpus_near_dup(new, corpus, threshold=0.6).collect()
    }
    assert set(rows) == {1, 3}, "below-threshold doc 5 must not match"
    for d in (1, 3):
        assert rows[d]["corpus_doc_id"] == 10, "ties must break to min corpus id"
        assert rows[d]["jaccard"] == 1.0


def test_ahash_perceptual_near_dup_on_real_images(spark):
    """aHash over REAL decoded pixels: a lightly-noised copy of an
    image must land within a small Hamming distance of the original
    (that's the point of a perceptual hash — byte-level hashes differ
    completely), an unrelated image must not pair at max_hamming=6,
    and identical payloads must hash identically."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        ahash_images,
        media_phash_near_dup,
    )

    rng = np.random.default_rng(11)
    # structured base image (gradient + blocks) so aHash bits carry
    # signal; pure noise images have unstable per-pixel comparisons
    base = np.zeros((32, 32, 3), dtype=np.uint8)
    base[:, :16] = 40
    base[:, 16:] = 200
    base[8:24, 8:24] = 120
    noisy = base.copy()
    idx = rng.integers(0, 32, size=(10, 2))
    for y, x in idx:
        noisy[y, x] = rng.integers(0, 256, 3)
    unrelated = np.zeros((32, 32, 3), dtype=np.uint8)
    unrelated[::2] = 230  # horizontal stripes — different structure
    df = spark.createDataFrame(
        [
            (1, bytearray(_bmp_bytes(base))),
            (2, bytearray(_bmp_bytes(noisy))),
            (3, bytearray(_bmp_bytes(unrelated))),
            (4, bytearray(_pnm_bytes(base))),  # same image, PPM container
        ],
        "doc_id long, payload binary",
    )
    hashes = {r["doc_id"]: r["ahash"] for r in ahash_images(df, fake=False).collect()}
    assert hashes[1] == hashes[4], "same pixels => same aHash across containers"
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in media_phash_near_dup(df, max_hamming=6, fake=False).collect()
    }
    assert (1, 2) in pairs, "noised copy must pair with the original"
    assert pairs[(1, 4)] == 0
    assert not any(3 in p for p in pairs), "unrelated image must not pair"


def test_ahash_fake_path_is_deterministic(spark, docs):
    from amazonmsk_emr_tem_data_spark.operators.multimodal import ahash_images

    payloads = with_binary_payload(docs.limit(50))
    a = sorted(map(tuple, ahash_images(payloads, fake=True).collect()))
    b = sorted(map(tuple, ahash_images(payloads, fake=True).collect()))
    assert a == b and len(a) == 50


def test_winnowing_detection_guarantee(spark):
    """The defining winnowing property: ANY shared token run of length
    >= w + k - 1 (= 11 at k=8, w=4) produces at least one shared
    fingerprint, no matter the surrounding context — while two
    unrelated texts share none."""
    from amazonmsk_emr_tem_data_spark.functions.text import (
        winnowing_fingerprints,
    )

    shared = "zero one two three four five six seven eight nine ten"  # 11 tokens
    df = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "completely different prefix words " + shared),
            (3, "no overlap here just some other words entirely present"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", winnowing_fingerprints("text", k=8, w=4).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared 11-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_cluster_safe_split_never_straddles_near_dups(spark, sf_dir):
    """The leakage guarantee, asserted independently of construction:
    every near-dup PAIR the LSH join finds (Jaccard >= 0.6) must land
    in the same split — i.e. no eval document has a near-duplicate in
    train. (A fingerprint-hash split only guarantees this for verbatim
    copies; the cluster-hash split must extend it to paraphrases.)"""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from amazonmsk_emr_tem_data_spark.queries._timeseries import (
        cluster_safe_split,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    split = {
        r["doc_id"]: r["split"]
        for r in cluster_safe_split(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.6).collect()
    assert pairs, "fixture must contain near-dup pairs for this to bite"
    straddling = [
        (r["doc_a"], r["doc_b"])
        for r in pairs
        if split[r["doc_a"]] != split[r["doc_b"]]
    ]
    assert not straddling, (
        f"near-dup pairs straddle splits: {straddling[:5]}"
    )
    assert set(split.values()) >= {"train"}, "split must be populated"


def test_chunk_text_udtf_sql_and_python_reference(spark):
    """The Spark 4 Python UDTF surface: chunk_text registers and runs
    as a SQL LATERAL table function, matches a plain-Python reference
    on sizes/overlaps/empties, and preserves row identity (every doc
    emits >= 1 chunk)."""
    from amazonmsk_emr_tem_data_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    docs = [
        (1, "a b c d e f g"),
        (2, "one two"),
        (3, ""),
        (4, None),
        (5, "x " * 10),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "udtf_docs"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk"], r["n_tokens"])
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM udtf_docs d, "
            "LATERAL chunk_text(d.text, 3, 1) c"
        ).collect()
    }

    def ref(text, size=3, overlap=1):
        toks = (text or "").split()
        if not toks:
            return {0: ("", 0)}
        out, i, idx, step = {}, 0, 0, size - overlap
        while i < len(toks):
            w = toks[i : i + size]
            out[idx] = (" ".join(w), len(w))
            if i + size >= len(toks):
                break
            idx += 1
            i += step
        return out

    expect = {
        (doc_id, idx): v
        for doc_id, text in docs
        for idx, v in ref(text).items()
    }
    assert got == expect
    assert {d for (d, _) in got} == {1, 2, 3, 4, 5}, "row identity"


def test_chunk_text_udtf_dataframe_form_and_size_guard(spark):
    """chunk_text_df must resolve the lateral column (a bare UDTF call
    with another DataFrame's column roots at OneRowRelation — r8
    review finding) and carry the input row's columns beside the
    chunks; size <= 0 must raise, not emit one empty chunk per
    token."""
    from amazonmsk_emr_tem_data_spark.functions.udtf import chunk_text_df

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk"]
        for r in chunk_text_df(df, "text", 3, 1).collect()
    }
    assert got == {
        (1, 0): "a b c",
        (1, 1): "c d e",
        (2, 0): "",
    }
    with pytest.raises(Exception, match="positive|ValueError"):
        chunk_text_df(df, "text", 0, 0).collect()


def _wav_bytes(samples, rate=16000, bits=16, extra_chunk=False):
    """Minimal RIFF/WAVE PCM encoder for fixtures: samples is an
    (n, channels) int array on the 16-bit grid; bits=8 stores the
    unsigned-8 projection (top byte + 128). extra_chunk inserts a
    LIST chunk before data to exercise chunk skipping + word
    alignment."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    n, ch = arr.shape
    if bits == 16:
        raw = arr.astype("<i2").tobytes()
    else:
        raw = ((arr // 256) + 128).astype(np.uint8).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
        ch * bits // 8, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        body = b"INFOx"  # odd length -> exercises word alignment
        chunks += b"LIST" + struct.pack("<I", len(body)) + body + b"\x00"
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    if len(raw) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_multimodal_real_decode_wav(spark):
    """decode_audio(fake=False) really parses RIFF/PCM: rate, channel
    count, per-channel sample count, duration, and [-1,1)-grid RMS
    must match the numpy reference — mono 16-bit, stereo 16-bit, 8-bit
    (projected onto the same grid), and a container with an extra
    odd-length chunk before data."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_audio

    t = np.arange(800)
    mono = (np.sin(t / 20.0) * 12000).astype(np.int64).reshape(-1, 1)
    stereo = np.stack(
        [mono[:, 0], (np.cos(t / 15.0) * 8000).astype(np.int64)], axis=1
    )
    fixtures = {
        1: (mono, dict(rate=16000, bits=16)),
        2: (stereo, dict(rate=44100, bits=16)),
        3: (mono, dict(rate=8000, bits=8)),
        4: (stereo, dict(rate=22050, bits=16, extra_chunk=True)),
    }
    payloads = [
        (doc_id, bytearray(_wav_bytes(arr, **kw)))
        for doc_id, (arr, kw) in fixtures.items()
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_audio(df, fake=False).collect()}
    for doc_id, (arr, kw) in fixtures.items():
        r = out[doc_id]
        n, ch = arr.shape
        assert (r["sample_rate"], r["n_channels"]) == (kw["rate"], ch)
        assert r["n_samples"] == n
        assert r["duration_ms"] == n * 1000 // kw["rate"]
        grid = arr if kw.get("bits", 16) == 16 else (arr // 256) * 256
        want = float(np.sqrt(((grid / 32768.0) ** 2).mean()))
        assert r["rms"] == pytest.approx(want, rel=1e-9), doc_id


def test_multimodal_wav_compressed_and_nonpcm_gated(spark):
    """MP3 magic and genuinely-compressed WAV (MS ADPCM) stay behind
    the explicit stub. (IEEE-float and G.711 A-law/µ-law WAV
    graduated from this list in r11 — they now really decode.)"""
    import struct

    from amazonmsk_emr_tem_data_spark.operators.multimodal import decode_audio

    fmt = struct.pack("<HHIIHH", 2, 1, 16000, 16000, 1, 4)  # MS ADPCM
    adpcm_wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    for doc_id, payload in [(1, b"ID3\x04" + b"\x00" * 64), (2, adpcm_wav)]:
        df = spark.createDataFrame(
            [(doc_id, bytearray(payload))], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match="NotImplementedError|PCM|WAV"):
            decode_audio(df, fake=False).collect()


def test_audio_envelope_hash_gain_and_depth_invariant(spark):
    """The energy-envelope fingerprint must be identical for the same
    waveform at half gain (mean-threshold is scale-invariant) and for
    its 8-bit requantization, and must differ for a different
    loud/quiet pattern; audio_near_dup_pairs must link exactly the
    true group."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        audio_near_dup_pairs,
        envelope_hash_audio,
    )

    rng = np.random.default_rng(3)
    # 64 windows x 25 samples: alternating loud/quiet windows
    loud = (rng.normal(0, 9000, (64, 25))).astype(np.int64)
    pattern = np.where(
        (np.arange(64) % 2 == 0)[:, None], loud, loud // 20
    ).reshape(-1, 1)
    shifted = np.where(
        (np.arange(64) % 2 == 1)[:, None], loud, loud // 20
    ).reshape(-1, 1)
    payloads = [
        (1, bytearray(_wav_bytes(pattern))),
        (2, bytearray(_wav_bytes(pattern // 2))),      # half gain
        (3, bytearray(_wav_bytes(pattern, bits=8))),   # requantized
        (4, bytearray(_wav_bytes(shifted))),           # different
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r["envelope_hash"]
        for r in envelope_hash_audio(df, fake=False).collect()
    }
    assert got[1] == got[2] == got[3]
    assert got[4] != got[1]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in audio_near_dup_pairs(df, fake=False).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}
