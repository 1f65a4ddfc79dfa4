"""Round-12 regression tests: the ADVICE.md items closed this round.

Each test pins a failure mode the round-11 advisor found — the
batch-composition-dependent scoreability in ``score_pairs_cosine`` and
the poisonable/raceable IVF-PQ model-cache keying.
"""

import pytest

from pyspark.sql import functions as F


def test_score_pairs_cosine_batch_independent(spark):
    """A pair of equal-length-but-short vectors must score even when a
    longer vector shares the Arrow batch; ragged pairs stay NULL; the
    result must equal the JVM ``cosine`` expression row-for-row
    (r11 ADVICE medium #1)."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        cosine,
        score_pairs_cosine,
    )

    rows = [
        # equal-length short pair in the same batch as the len-8 row
        (1, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]),
        # long pair sets the batch max
        (2, [1.0] * 8, [0.5] * 8),
        # ragged pair -> NULL (zip_with NULL-fold)
        (3, [1.0, 2.0, 3.0, 4.0], [1.0] * 8),
        # NULL side -> NULL
        (4, None, [1.0, 2.0, 3.0, 4.0]),
        # zero vector -> NULL (try_divide)
        (5, [0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),
        # another short pair, different length again
        (6, [2.0, 2.0], [3.0, 5.0]),
    ]
    pairs = spark.createDataFrame(
        rows, "pid long, a array<double>, b array<double>"
    ).coalesce(1)  # force one Arrow batch: the r11 bug needs co-residency

    got = {
        r["pid"]: r["cos_sim"]
        for r in score_pairs_cosine(pairs, "a", "b", ("pid",)).collect()
    }
    want = {
        r["pid"]: r["cos_sim"]
        for r in pairs.select(
            "pid", cosine(F.col("a"), F.col("b")).alias("cos_sim")
        ).collect()
    }
    assert set(got) == set(want)
    for pid in want:
        if want[pid] is None:
            assert got[pid] is None, pid
        else:
            assert got[pid] == want[pid], pid  # bit-identical
    assert want[1] is not None and want[6] is not None
    assert want[3] is None and want[4] is None and want[5] is None


def test_ivfpq_cache_keyed_on_content(spark, tmp_path):
    """Two datasets whose sf_dir shares a BASENAME but holds different
    embeddings must never share a persisted-model cache entry: the
    served top-k for the second dataset must equal its own fresh-fit
    results, not the first dataset's (r11 ADVICE medium #2)."""
    import duckdb

    from amazonmsk_emr_tem_data_spark.queries._graph_ann import (
        embedding_ivfpq_topk,
    )
    from amazonmsk_emr_tem_data_spark.queries._registry import (
        ivfpq_persisted_topk,
    )

    con = duckdb.connect()
    for tag, pred in (("a", "vec_id < 400"), ("b", "vec_id >= 100")):
        d = tmp_path / tag / "sf_same"  # identical basename on purpose
        d.mkdir(parents=True)
        con.execute(
            "COPY (SELECT * FROM "
            "'/root/testdata/sf0.001/embeddings.parquet' "
            f"WHERE {pred}) TO '{d}/embeddings.parquet' (FORMAT PARQUET)"
        )
    dir_a = str(tmp_path / "a" / "sf_same")
    dir_b = str(tmp_path / "b" / "sf_same")
    # prime the cache on dataset a, then serve dataset b
    ivfpq_persisted_topk(spark, dir_a).collect()
    served_b = sorted(
        map(tuple, ivfpq_persisted_topk(spark, dir_b).collect())
    )
    fresh_b = sorted(
        map(tuple, embedding_ivfpq_topk(spark, dir_b).collect())
    )
    assert served_b == fresh_b


def test_weighted_priority_sample_semantics(spark):
    """A-ES invariants on the sf0.001 fixture: keys are the iterated
    sqrt of the grid draw (so in (0,1]), the quantization band is the
    exact integer floor(log2(w)), and the weighted sample
    overrepresents heavy documents vs the corpus mean."""
    import math

    import duckdb

    from amazonmsk_emr_tem_data_spark.queries._registry import (
        weighted_priority_sample,
    )

    rows = weighted_priority_sample(
        spark, "/root/testdata/sf0.001", n=80
    ).collect()
    assert len(rows) == 80
    assert len({r["doc_id"] for r in rows}) == 80  # without replacement
    for r in rows:
        assert 0.0 < r["aes_key"] <= 1.0
        w = max(r["n_chars"] or 1, 1)
        assert r["w_log2"] == min(int(math.log2(w)), 16)
    corpus_mean = duckdb.sql(
        "SELECT avg(n_chars) FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (
        "weighted sampling must favor long documents"
    )


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_IDX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_nibble(code, pred, idx):
    """Scalar IMA step — the independent reference for both the
    in-test encoder and the engine decoder."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_IDX[code & 7]))
    return pred, idx


def _ima_wav_bytes(samples, rate=8000):
    """Encode an (n, ch) int16 array as an IMA ADPCM WAV (format
    0x11), one block per channel-group of 505 samples."""
    import struct

    import numpy as np

    samples = np.asarray(samples, dtype=np.int64)
    n, ch = samples.shape
    spb = 505  # 4 + 252 data bytes per channel -> block_align 256*ch
    blk_align = (4 + (spb - 1) // 2) * ch
    idx = [0] * ch
    blocks = b""
    for b0 in range(0, n, spb):
        blk = samples[b0 : b0 + spb]
        if len(blk) < spb:  # pad the tail block by repeating the last
            blk = np.vstack([blk, np.repeat(blk[-1:], spb - len(blk), 0)])
        hdr = b""
        chan_nibbles = []
        for c in range(ch):
            pred = int(blk[0, c])
            hdr += struct.pack("<hBB", pred, idx[c], 0)
            nibs = []
            for s in blk[1:, c]:
                step = _IMA_STEPS[idx[c]]
                diff = int(s) - pred
                code = 0
                if diff < 0:
                    code = 8
                    diff = -diff
                if diff >= step:
                    code |= 4
                    diff -= step
                if diff >= step >> 1:
                    code |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    code |= 1
                pred, idx[c] = _ima_decode_nibble(code, pred, idx[c])
                nibs.append(code)
            chan_nibbles.append(nibs)
        body = bytearray()
        for u in range(0, spb - 1, 8):
            for c in range(ch):
                eight = chan_nibbles[c][u : u + 8]
                for k in range(0, 8, 2):
                    body.append(eight[k] | (eight[k + 1] << 4))
        blocks += hdr + bytes(body)
    byte_rate = rate * blk_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, ch, rate, byte_rate, blk_align, 4, 2, spb
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(blocks))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )


def test_wav_ima_adpcm_decode():
    """The vectorized IMA ADPCM decoder must reproduce the scalar
    reference decode bit-for-bit, mono and stereo, across block
    boundaries (505 samples/block; index carried by each block's own
    header)."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    wav_array = _pure_decoders()["wav"]
    t = np.arange(1600)
    mono = (np.sin(t / 9.0) * 11000 + np.sin(t / 131.0) * 9000).astype(
        np.int64
    ).reshape(-1, 1)
    stereo = np.stack(
        [mono[:, 0], (np.cos(t / 23.0) * 15000).astype(np.int64)], axis=1
    )
    for arr, rate in ((mono, 8000), (stereo, 22050)):
        payload = _ima_wav_bytes(arr, rate=rate)
        got_rate, got = wav_array(payload)
        assert got_rate == rate
        n, ch = arr.shape
        # scalar reference decode of the SAME bytes
        import struct

        blk_align = (4 + 252) * ch
        data_at = payload.index(b"data") + 8
        want = []
        pos = data_at
        while pos + blk_align <= len(payload):
            preds, idxs, streams = [], [], []
            for c in range(ch):
                p, i, _ = struct.unpack_from("<hBB", payload, pos + 4 * c)
                preds.append(p)
                idxs.append(i)
                streams.append([])
            body = payload[pos + 4 * ch : pos + blk_align]
            for u in range(0, len(body), 4 * ch):
                for c in range(ch):
                    for byte in body[u + 4 * c : u + 4 * c + 4]:
                        streams[c].append(byte & 0x0F)
                        streams[c].append(byte >> 4)
            rows = [[preds[c] for c in range(ch)]]
            for k in range(504):
                row = []
                for c in range(ch):
                    preds[c], idxs[c] = _ima_decode_nibble(
                        streams[c][k], preds[c], idxs[c]
                    )
                    row.append(preds[c])
                rows.append(row)
            want.extend(rows)
            pos += blk_align
        assert got.tolist() == want
        # lossy-but-close sanity: reconstruction tracks the waveform
        got_trim = np.asarray(want)[:n]
        err = np.abs(got_trim - arr).mean()
        assert err < 900, err


def test_wav_mp3_still_gated():
    """Entropy-coded audio stays behind the guarded stub. (MS ADPCM
    graduated in r13 — its parity tests live in test_round13.py; this
    pin moved to the MPEG layer-3 format code.)"""
    import struct

    import pytest as _pytest

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    fmt = struct.pack("<HHIIHH", 0x55, 1, 16000, 16000, 1, 0)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with _pytest.raises(NotImplementedError, match="ffmpeg"):
        _pure_decoders()["wav"](wav)


def test_no_source_file_exceeds_8k_lines():
    """r11 VERDICT ask #5: queries.py (19k lines) was split into a
    per-domain package; this invariant keeps any module from regrowing
    past the 8k-line maintainability bound."""
    import glob
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "amazonmsk_emr_tem_data_spark",
    )
    offenders = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as fh:
            n = sum(1 for _ in fh)
        if n > 8000:
            offenders[os.path.relpath(path, root)] = n
    assert not offenders, offenders


def _mjpeg_avi_bytes(jpeg_frames, extra_stream_chunk=True):
    """Minimal MJPEG AVI: hdrl LIST stub + movi LIST whose 00dc chunks
    are complete JPEGs (plus an audio 01wb chunk that must be
    skipped), word-aligned like real muxers emit."""
    import struct

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    hdrl = b"LIST" + struct.pack("<I", 4 + 8) + b"hdrl" + chunk(
        b"avih", b""
    )
    movi_body = b"movi"
    for i, f in enumerate(jpeg_frames):
        movi_body += chunk(b"00dc", f)
        if extra_stream_chunk and i == 0:
            movi_body += chunk(b"01wb", b"\x01\x02\x03")  # audio, skipped
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def test_sample_frames_real_mjpeg_avi(spark):
    """sample_frames(fake=False) walks the RIFF/AVI tree: sampled
    offsets land exactly on the planted 00dc JPEG frames (audio chunks
    skipped), fingerprints match the frame bytes, and the extracted
    bytes decode with the engine's own baseline-JPEG decoder to the
    same pixels as the source frames."""
    import hashlib

    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
        sample_frames,
    )

    from .test_northstar import _jpeg_bytes

    rng = np.random.default_rng(12)
    frames = [
        _jpeg_bytes(rng.integers(0, 255, (16, 16, 3)).astype(np.uint8))
        for _ in range(3)
    ]
    avi = _mjpeg_avi_bytes(frames)
    df = spark.createDataFrame(
        [(7, bytearray(avi))], "doc_id long, payload binary"
    )
    out = sorted(
        (r["frame_idx"], r["frame_offset_bytes"], r["frame_sha256"])
        for r in sample_frames(df, n_frames=3, fake=False).collect()
    )
    assert len(out) == 3
    jpeg = _pure_decoders()["jpeg"]
    for (fi, off, sha), src in zip(out, frames):
        got_bytes = avi[off : off + len(src)]
        assert got_bytes == src, fi  # offset hits the planted frame
        assert sha == hashlib.sha256(
            src.hex().upper().encode("ascii")
        ).hexdigest()
        assert (jpeg(got_bytes) == jpeg(src)).all()


def test_sample_frames_non_avi_still_gated(spark):
    """Real-path frame extraction on a non-AVI payload keeps the
    guarded ffmpeg stub."""
    import pytest as _pytest

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x20ftypisom" + b"\x00" * 32))],
        "doc_id long, payload binary",
    )
    with _pytest.raises(Exception, match="MJPEG-in-AVI|ffmpeg"):
        sample_frames(df, fake=False).collect()


def test_priority_sample_merge_and_replay_idempotent(spark, tmp_path):
    """The streaming reservoir's exactly-once proof: folding three
    disjoint micro-batches (any order) WITH one batch replayed lands
    on exactly the batch sampler's top-n — top-n-by-deterministic-key
    is an idempotent, commutative merge."""
    from amazonmsk_emr_tem_data_spark.queries._registry import (
        weighted_priority_sample,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        priority_sample_batch,
        read_priority_store,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    store = str(tmp_path / "reservoir")
    parts = [
        docs.filter(f"doc_id % 3 = {i}").localCheckpoint(eager=True)
        for i in range(3)
    ]
    order = [parts[2], parts[0], parts[0], parts[1]]  # replay part 0
    for b in order:
        priority_sample_batch(b, store, n=100)
    got = sorted(map(tuple, read_priority_store(spark, store).collect()))
    want = sorted(
        map(tuple, weighted_priority_sample(spark, sf, n=100).collect())
    )
    assert got == want


def test_aes_key_planted_weight_edges(spark):
    """Planted boundary weights: NULL and 0 coalesce to band 0, exact
    powers of two land in their own band, 2^16-and-above clamps to the
    _AES_JMAX cap — and every key stays in (0, 1]."""
    import math

    from amazonmsk_emr_tem_data_spark.queries._registry import (
        _AES_JMAX,
        _aes_key_cols,
    )

    rows = [
        (1, None, "s"), (2, 0, "s"), (3, 1, "s"), (4, 2, "s"),
        (5, 3, "s"), (6, 1023, "s"), (7, 1024, "s"),
        (8, (1 << 16) - 1, "s"), (9, 1 << 16, "s"), (10, 1 << 30, "s"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, n_chars long, source string"
    )
    got = {r["doc_id"]: r for r in _aes_key_cols(df).collect()}
    want_band = {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 9, 7: 10,
                 8: 15, 9: 16, 10: 16}
    for did, band in want_band.items():
        r = got[did]
        assert r["w_log2"] == band, (did, r["w_log2"])
        assert 0.0 < r["aes_key"] <= 1.0
        # invert the iterated sqrt: key^(2^band) must recover the
        # md5-grid draw u = (h+1)/2^60 for this doc_id
        import hashlib

        h = int(
            hashlib.md5(str(did).encode()).hexdigest()[:15], 16
        )
        u = (h + 1) / float(1 << 60)
        assert math.isclose(
            r["aes_key"] ** (2 ** band), u, rel_tol=1e-9
        ), did


def test_bbit_minhash_identical_docs_saturate(spark, tmp_path):
    """Planted identical documents (J = 1): every signature slot
    matches at any bit width, so all three estimators must read
    exactly 1.0 (1e6 ppm); estimates are always within [0, 1e6]."""
    import duckdb

    from amazonmsk_emr_tem_data_spark.queries._registry import (
        bbit_minhash_audit,
    )

    d = tmp_path / "sfb"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT doc_id, text, lang, source, n_chars
          FROM '/root/testdata/sf0.001/documents.parquet' LIMIT 6
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    # duplicate doc 0's text under new ids -> two planted J=1 pairs
    con.execute(
        f"""COPY (
          SELECT * FROM '{d}/documents.parquet'
          UNION ALL
          SELECT 9001, text, lang, source, n_chars
          FROM '{d}/documents.parquet' WHERE doc_id = (
            SELECT MIN(doc_id) FROM '{d}/documents.parquet')
          UNION ALL
          SELECT 9002, text, lang, source, n_chars
          FROM '{d}/documents.parquet' WHERE doc_id = (
            SELECT MIN(doc_id) FROM '{d}/documents.parquet')
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    rows = bbit_minhash_audit(spark, str(d)).collect()
    assert rows, "planted duplicates must be audited"
    sat = [r for r in rows if r["jaccard"] == 1.0]
    assert len(sat) >= 3  # (orig,9001),(orig,9002),(9001,9002)
    for r in rows:
        for c in ("est_full_ppm", "est_b2_ppm", "est_b1_ppm"):
            assert 0 <= r[c] <= 1_000_000, (r["doc_a"], r["doc_b"], c)
        assert r["est_full_ppm"] == 1_000_000 * r["matches_full"] // 16
    for r in sat:
        assert (
            r["matches_full"] == 16
            and r["est_full_ppm"] == 1_000_000
            and r["est_b2_ppm"] == 1_000_000
            and r["est_b1_ppm"] == 1_000_000
        )
