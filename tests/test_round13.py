"""Round-13 additions: crash-atomic reservoir generations, the IMA
ADPCM stereo block-align guard, and even frame sampling (r12 ADVICE
items), plus the round's new operators."""

from __future__ import annotations

import os
import struct

import pytest


# ---------------------------------------------------------------------------
# r12 ADVICE #1: reservoir store crash-atomicity (generation + manifest)
# ---------------------------------------------------------------------------


def _docs_parts(spark):
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    return [
        docs.filter(f"doc_id % 3 = {i}").localCheckpoint(eager=True)
        for i in range(3)
    ]


def test_reservoir_generation_commit_and_gc(spark, tmp_path):
    """Each batch publishes a FRESH generation and swaps the manifest;
    the superseded generation is swept, so steady state is one
    committed generation + MANIFEST."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        priority_sample_batch,
        read_priority_store,
    )

    store = str(tmp_path / "reservoir")
    parts = _docs_parts(spark)
    priority_sample_batch(parts[0], store, n=50)
    assert open(os.path.join(store, "MANIFEST")).read().strip() == "1"
    priority_sample_batch(parts[1], store, n=50)
    assert open(os.path.join(store, "MANIFEST")).read().strip() == "2"
    gens = sorted(d for d in os.listdir(store) if d.startswith("gen-"))
    assert gens == ["gen-000002"]  # gen-000001 swept after commit
    assert read_priority_store(spark, store).count() == 50


def test_reservoir_crashed_overwrite_keeps_prior_state(spark, tmp_path):
    """The r12 ADVICE scenario: a crash mid-write must NOT reset the
    reservoir. A torn (uncommitted) generation dir left next to a
    committed one is invisible to readers and replaced by the replay,
    and the final state equals the batch sampler's answer."""
    from amazonmsk_emr_tem_data_spark.queries._registry import (
        weighted_priority_sample,
    )
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        _reservoir_read,
        priority_sample_batch,
        read_priority_store,
    )

    store = str(tmp_path / "reservoir")
    parts = _docs_parts(spark)
    priority_sample_batch(parts[0], store, n=100)
    priority_sample_batch(parts[1], store, n=100)
    committed = sorted(
        map(tuple, read_priority_store(spark, store).collect())
    )
    # simulate batch 3 crashing mid-write: torn gen dir, manifest not
    # swapped (the manifest replace IS the commit point)
    torn = os.path.join(store, "gen-000003")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-junk.parquet"), "wb") as f:
        f.write(b"\x00not parquet")
    df, gen = _reservoir_read(spark, store)
    assert gen == 2
    assert sorted(map(tuple, df.collect())) == committed  # prior state
    # the replayed batch replaces the torn dir and commits cleanly
    priority_sample_batch(parts[2], store, n=100)
    assert open(os.path.join(store, "MANIFEST")).read().strip() == "3"
    got = sorted(map(tuple, read_priority_store(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            weighted_priority_sample(
                spark, "/root/testdata/sf0.001", n=100
            ).collect(),
        )
    )
    assert got == want


def test_reservoir_crash_before_first_commit_is_first_batch(
    spark, tmp_path
):
    """A first-generation write that crashed before the manifest swap
    leaves gen dirs but no MANIFEST: logically nothing ever committed,
    so the replay rebuilds from scratch instead of erroring out."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        _reservoir_read,
        priority_sample_batch,
        read_priority_store,
    )

    store = str(tmp_path / "reservoir")
    torn = os.path.join(store, "gen-000001")
    os.makedirs(torn)
    df, gen = _reservoir_read(spark, store)
    assert df is None and gen == 1
    parts = _docs_parts(spark)
    priority_sample_batch(parts[0], store, n=25)
    assert read_priority_store(spark, store).count() == 25


def test_reservoir_empty_existing_dir_still_corrupt(spark, tmp_path):
    """An existing dir with neither MANIFEST nor generations is a
    mis-pointed store (e.g. the bare-mkdtemp footgun) — refuse loudly
    rather than silently treating it as an empty reservoir."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        _reservoir_read,
    )

    empty = tmp_path / "pre_created"
    empty.mkdir()
    with pytest.raises(ValueError, match="no MANIFEST"):
        _reservoir_read(spark, str(empty))


# ---------------------------------------------------------------------------
# r12 ADVICE #2: IMA ADPCM stereo block-align guard
# ---------------------------------------------------------------------------


def test_ima_adpcm_bad_stereo_block_align_clean_error():
    """n_ch=2, blk_align=12 passed the old `%4` guard and died inside
    a numpy reshape; the guard now requires whole 4-byte-per-channel
    data units and raises the documented error instead."""
    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    blk_align, n_ch = 12, 2
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_ch, 8000, 8000, blk_align, 4, 2, 3
    )
    body = bytes(blk_align * 2)
    wav = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )
    with pytest.raises(ValueError, match="block align"):
        _pure_decoders()["wav"](wav)


def test_ima_adpcm_minimal_valid_stereo_align_still_decodes():
    """blk_align = 4*n_ch + 4*n_ch (one data unit per channel) is the
    smallest legal stereo block and must still decode (guard is tight,
    not over-broad): 9 samples/block, predictors = sample 0."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    n_ch, blk_align = 2, 16
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_ch, 8000, 8000, blk_align, 4, 2, 9
    )
    # header: per channel int16 predictor + step index 0 + reserved;
    # data: one 4-byte unit per channel, all-zero nibbles (code 0 ->
    # pred += step>>3 with step 7 -> pred stays close to 0)
    hdr = struct.pack("<hBB", 100, 0, 0) + struct.pack("<hBB", -100, 0, 0)
    body = hdr + bytes(8)
    wav = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )
    rate, out = _pure_decoders()["wav"](wav)
    assert rate == 8000
    assert out.shape == (9, 2)
    assert out[0].tolist() == [100, -100]
    assert np.abs(out[:, 0] - 100).max() <= 8  # code-0 drift only


# ---------------------------------------------------------------------------
# r12 VERDICT ask #8: MS ADPCM (WAV format 2)
# ---------------------------------------------------------------------------

_MS_COEFF1 = [256, 512, 0, 192, 240, 460, 392]
_MS_COEFF2 = [0, -256, 0, 64, 0, -208, -232]
_MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]


def _ms_decode_code(code, s1, s2, c1, c2, idelta):
    """Scalar MS ADPCM step — the independent reference for both the
    in-test encoder and the engine decoder."""
    signed = code - 16 if code >= 8 else code
    pred = ((s1 * c1 + s2 * c2) >> 8) + signed * idelta
    pred = max(-32768, min(32767, pred))
    idelta = max(16, (_MS_ADAPT[code] * idelta) >> 8)
    return pred, idelta


def _ms_wav_bytes(samples, rate=8000, bpred=None, spb=500):
    """Encode an (n, ch) int16 array as an MS ADPCM WAV (format 2):
    per-channel predictor byte + idelta/sample1/sample2 header, then
    high-nibble-first channel-interleaved 4-bit codes."""
    import numpy as np

    samples = np.asarray(samples, dtype=np.int64)
    n, ch = samples.shape
    bpred = bpred or [0] * ch
    blk_align = 7 * ch + (spb - 2) * ch // 2
    blocks = b""
    for b0 in range(0, n, spb):
        blk = samples[b0 : b0 + spb]
        if len(blk) < spb:
            blk = np.vstack([blk, np.repeat(blk[-1:], spb - len(blk), 0)])
        idelta = [32] * ch
        s2 = [int(blk[0, c]) for c in range(ch)]
        s1 = [int(blk[1, c]) for c in range(ch)]
        hdr = bytes(bpred)
        for arr in (idelta, s1, s2):
            for c in range(ch):
                hdr += struct.pack("<h", arr[c])
        codes = []
        st1, st2, sid = list(s1), list(s2), list(idelta)
        for t in range(2, spb):
            for c in range(ch):
                c1, c2 = _MS_COEFF1[bpred[c]], _MS_COEFF2[bpred[c]]
                base = (st1[c] * c1 + st2[c] * c2) >> 8
                want = int(blk[t, c])
                code = max(-8, min(7, round((want - base) / sid[c])))
                code &= 0x0F
                pred, sid[c] = _ms_decode_code(
                    code, st1[c], st2[c], c1, c2, sid[c]
                )
                st2[c] = st1[c]
                st1[c] = pred
                codes.append(code)
        body = bytearray()
        for j in range(0, len(codes), 2):
            body.append((codes[j] << 4) | codes[j + 1])
        blocks += hdr + bytes(body)
    byte_rate = rate * blk_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 2, ch, rate, byte_rate, blk_align, 4, 2, spb
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(blocks))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )


def test_wav_ms_adpcm_decode():
    """The vectorized MS ADPCM decoder must reproduce the scalar
    reference decode bit-for-bit — mono and stereo, multiple blocks,
    per-channel predictor coefficients — and track the waveform."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    wav_array = _pure_decoders()["wav"]
    t = np.arange(1500)
    mono = (np.sin(t / 11.0) * 9000 + np.sin(t / 97.0) * 7000).astype(
        np.int64
    ).reshape(-1, 1)
    stereo = np.stack(
        [mono[:, 0], (np.cos(t / 29.0) * 12000).astype(np.int64)], axis=1
    )
    for arr, rate, bpred in (
        (mono, 8000, [1]),
        (stereo, 22050, [0, 4]),
    ):
        n, ch = arr.shape
        payload = _ms_wav_bytes(arr, rate=rate, bpred=bpred)
        got_rate, got = wav_array(payload)
        assert got_rate == rate
        # scalar reference decode of the SAME bytes
        spb = 500
        blk_align = 7 * ch + (spb - 2) * ch // 2
        data_at = payload.index(b"data") + 8
        want = []
        pos = data_at
        while pos + blk_align <= len(payload):
            bp = list(payload[pos : pos + ch])
            vals = struct.unpack_from(f"<{3 * ch}h", payload, pos + ch)
            idelta = list(vals[:ch])
            s1 = list(vals[ch : 2 * ch])
            s2 = list(vals[2 * ch :])
            want.append(list(s2))
            want.append(list(s1))
            nibbles = []
            for byte in payload[pos + 7 * ch : pos + blk_align]:
                nibbles.append(byte >> 4)
                nibbles.append(byte & 0x0F)
            row = []
            for j, code in enumerate(nibbles):
                c = j % ch
                pred, idelta[c] = _ms_decode_code(
                    code, s1[c], s2[c],
                    _MS_COEFF1[bp[c]], _MS_COEFF2[bp[c]], idelta[c],
                )
                s2[c] = s1[c]
                s1[c] = pred
                row.append(pred)
                if c == ch - 1:
                    want.append(row)
                    row = []
            pos += blk_align
        assert got.tolist() == want
        err = np.abs(np.asarray(want)[:n] - arr).mean()
        assert err < 600, err


def test_wav_ms_adpcm_malformed_block_align():
    """Short or non-integral block aligns raise the documented error,
    not a numpy reshape crash."""
    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    fmt = struct.pack("<HHIIHHHH", 2, 2, 8000, 8000, 14, 4, 2, 2)
    body = bytes(28)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )
    with pytest.raises(ValueError, match="MS ADPCM block align"):
        _pure_decoders()["wav"](wav)


# ---------------------------------------------------------------------------
# r12 ADVICE #3: sample_frames(fake=False) even spread
# ---------------------------------------------------------------------------


def test_sample_frames_spread_covers_back_half(spark):
    """7 planted frames, n_frames=4: the old head-biased stride picked
    frames 0-3; even spacing must hit 0,2,4,6 — first AND last."""
    import hashlib

    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        sample_frames,
    )

    from .test_northstar import _jpeg_bytes
    from .test_round12 import _mjpeg_avi_bytes

    rng = np.random.default_rng(13)
    frames = [
        _jpeg_bytes(rng.integers(0, 255, (8, 8, 3)).astype(np.uint8))
        for _ in range(7)
    ]
    avi = _mjpeg_avi_bytes(frames)
    df = spark.createDataFrame(
        [(1, bytearray(avi))], "doc_id long, payload binary"
    )
    got = sorted(
        (r["frame_idx"], r["frame_sha256"])
        for r in sample_frames(df, n_frames=4, fake=False).collect()
    )
    want = [
        (fi, hashlib.sha256(
            frames[p].hex().upper().encode("ascii")
        ).hexdigest())
        for fi, p in enumerate([0, 2, 4, 6])
    ]
    assert got == want


# ---------------------------------------------------------------------------
# r12 VERDICT ask #6: streaming ANN ingest near-dedup
# ---------------------------------------------------------------------------


def _ann_parts(spark, sf):
    from amazonmsk_emr_tem_data_spark.queries._registry import (
        _persisted_ann_model,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    emb = load_table(spark, sf, "embeddings")
    model = _persisted_ann_model(spark, sf)
    return emb, model["centroids"]


def _ann_state(spark, store):
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        read_ann_ingest_store,
    )

    return sorted(map(tuple, read_ann_ingest_store(spark, store).collect()))


def test_ann_ingest_multibatch_out_of_order_replay_equals_batch(
    spark, tmp_path
):
    """The order-insensitivity proof: three id-interleaved micro-batches
    folded out of id order WITH one batch replayed land on exactly the
    single-batch state — the within-batch / store-vs-arrival /
    retro-demotion cases all fire and still compose to 'duplicate iff
    ANY smaller-id same-cell neighbor'."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        ann_ingest_batch,
    )

    sf = "/root/testdata/sf0.001"
    emb, cents = _ann_parts(spark, sf)
    parts = [
        emb.filter(f"vec_id % 3 = {i}").localCheckpoint(eager=True)
        for i in range(3)
    ]
    store_multi = str(tmp_path / "multi")
    for b in [parts[2], parts[0], parts[0], parts[1]]:  # replay part 0
        ann_ingest_batch(b, store_multi, cents)
    store_single = str(tmp_path / "single")
    ann_ingest_batch(emb, store_single, cents)
    got = _ann_state(spark, store_multi)
    want = _ann_state(spark, store_single)
    assert got == want
    # non-vacuous: the fixture has near-dups, so both flags exist
    flags = {r[2] for r in want}
    assert flags == {True, False}


def test_ann_ingest_retro_demotion(spark, tmp_path):
    """A smaller-id vector arriving AFTER its larger-id near-dup must
    retro-demote the earlier arrival: ingest high ids first, then low
    ids, and compare against the id-ordered schedule."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        ann_ingest_batch,
    )

    sf = "/root/testdata/sf0.001"
    emb, cents = _ann_parts(spark, sf)
    hi = emb.filter("vec_id >= 100").localCheckpoint(eager=True)
    lo = emb.filter("vec_id < 100").localCheckpoint(eager=True)
    s1 = str(tmp_path / "rev")
    ann_ingest_batch(hi, s1, cents)
    mid = _ann_state(spark, s1)
    ann_ingest_batch(lo, s1, cents)
    s2 = str(tmp_path / "fwd")
    ann_ingest_batch(lo, s2, cents)
    ann_ingest_batch(hi, s2, cents)
    final = _ann_state(spark, s1)
    assert final == _ann_state(spark, s2)
    # at least one high-id vector was canonical mid-stream and got
    # demoted by a later-arriving smaller-id neighbor
    mid_canon = {r[0] for r in mid if r[2]}
    final_canon = {r[0] for r in final if r[2]}
    assert mid_canon - final_canon, "schedule exercised no retro-demotion"


def test_ann_ingest_torn_append_crash_recovers(spark, tmp_path, monkeypatch):
    """Crash-atomicity of the two-append commit: tear exactly the
    vectors-committed/demotions-missing window, then replay the batch —
    the replay re-derives the demotions from the full batch while the
    vector append anti-joins to a no-op, landing on the clean-schedule
    state."""
    from amazonmsk_emr_tem_data_spark.streaming import pipelines as pl

    sf = "/root/testdata/sf0.001"
    emb, cents = _ann_parts(spark, sf)
    hi = emb.filter("vec_id >= 100").localCheckpoint(eager=True)
    lo = emb.filter("vec_id < 100").localCheckpoint(eager=True)
    store = str(tmp_path / "torn")
    pl.ann_ingest_batch(hi, store, cents)

    real = pl._ann_append_demotions

    def torn(demoted, dem_dir):
        raise RuntimeError("injected crash between the two appends")

    monkeypatch.setattr(pl, "_ann_append_demotions", torn)
    with pytest.raises(RuntimeError, match="injected crash"):
        pl.ann_ingest_batch(lo, store, cents)
    monkeypatch.setattr(pl, "_ann_append_demotions", real)
    pl.ann_ingest_batch(lo, store, cents)  # the foreachBatch replay
    clean = str(tmp_path / "clean")
    pl.ann_ingest_batch(hi, clean, cents)
    pl.ann_ingest_batch(lo, clean, cents)
    assert _ann_state(spark, store) == _ann_state(spark, clean)


def test_ann_ingest_store_never_shuffles(spark, tmp_path):
    """Plan contract: the per-batch near-dup join broadcasts the
    arrivals against the store scan — no Exchange on the store side,
    no SortMergeJoin, no CartesianProduct."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        cosine,
        with_ivf_cell,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb, cents = _ann_parts(spark, sf)
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        ann_ingest_batch,
    )

    store = str(tmp_path / "plan")
    ann_ingest_batch(emb.filter("vec_id >= 100"), store, cents)
    arr = with_ivf_cell(emb.filter("vec_id < 100"), cents).select(
        F.col("vec_id").alias("b_id"),
        "ivf_cell",
        F.col("embedding").alias("b_emb"),
    )
    j = (
        spark.read.parquet(os.path.join(store, "vectors"))
        .select(
            F.col("vec_id").alias("s_id"),
            "ivf_cell",
            F.col("embedding").alias("s_emb"),
        )
        .join(F.broadcast(arr), "ivf_cell")
        .filter(cosine(F.col("s_emb"), F.col("b_emb")) >= 0.45)
        .select("s_id", "b_id")
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sample_frames_fewer_frames_than_requested(spark):
    """m <= n_frames returns every frame exactly once (no duplicate
    picks from index rounding)."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        sample_frames,
    )

    from .test_northstar import _jpeg_bytes
    from .test_round12 import _mjpeg_avi_bytes

    rng = np.random.default_rng(14)
    frames = [
        _jpeg_bytes(rng.integers(0, 255, (8, 8, 3)).astype(np.uint8))
        for _ in range(2)
    ]
    df = spark.createDataFrame(
        [(1, bytearray(_mjpeg_avi_bytes(frames)))],
        "doc_id long, payload binary",
    )
    out = sample_frames(df, n_frames=4, fake=False).collect()
    assert sorted(r["frame_idx"] for r in out) == [0, 1]


# ---------------------------------------------------------------------------
# r12 VERDICT ask #2: int8 prefilter for NN-Descent — kept opt-in
# (measured-rejected as the default at dim=64; see the A/B numbers at
# operators/similarity.py nn_descent_graph). The certificate claim is
# that prefilter=True is LOSSLESS: bit-identical output.
# ---------------------------------------------------------------------------


def test_nn_descent_prefilter_bit_identical(spark):
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        nn_descent_graph,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = nn_descent_graph(emb, k=4, iters=2, prefilter=False)
    pref = nn_descent_graph(emb, k=4, iters=2, prefilter=True)
    cols = base.columns
    assert pref.columns == cols
    a = [tuple(r) for r in base.orderBy(*cols).collect()]
    b = [tuple(r) for r in pref.orderBy(*cols).collect()]
    assert a == b and len(a) > 0


def test_nn_descent_prefilter_bounds_certificate(spark):
    """The int8 bounds actually bracket the exact cosine on real
    vectors — the inequality the pruning proof rests on."""
    import pyspark.sql.functions as F

    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        _approx_pair_bounds,
        _int8_sig_table,
        cosine,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(
        64
    )
    norm = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    )
    sig = _int8_sig_table(norm)
    pairs = (
        norm.alias("x")
        .join(norm.alias("y"), F.col("x.vid") < F.col("y.vid"))
        .select(
            F.col("x.vid").alias("a"),
            F.col("y.vid").alias("b"),
            F.col("x.v").alias("va"),
            F.col("y.v").alias("vb"),
        )
        .limit(500)
    )
    siga = sig.select(
        F.col("vid").alias("a"),
        F.col("sig").alias("sa"),
        F.col("sig_r").alias("ra"),
    )
    sigb = sig.select(
        F.col("vid").alias("b"),
        F.col("sig").alias("sb"),
        F.col("sig_r").alias("rb"),
    )
    exact = pairs.withColumn(
        "cs", cosine(F.col("va"), F.col("vb"))
    ).select("a", "b", "cs")
    bounds = _approx_pair_bounds(
        pairs.select("a", "b").join(siga, "a").join(sigb, "b")
    )
    rows = exact.join(bounds, ["a", "b"]).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["lb"] - 1e-9 <= r["cs"] <= r["ub"] + 1e-9, (
            r["a"],
            r["b"],
            r["lb"],
            r["cs"],
            r["ub"],
        )


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2) — r12 VERDICT "What's missing" #3: the first
# named codec-gap item. Fixture encoder below emits real multi-scan
# spectral-selection + successive-approximation streams (T.81 Annex G
# encoder semantics, the libjpeg-family algorithm); the engine decoder
# must reproduce the BASELINE decode bit-for-bit, because progressive
# coding is a lossless re-serialization of the same quantized
# coefficients.
# ---------------------------------------------------------------------------


def _jpeg_progressive_bytes(
    arr, quality=92, subsample=False, restart=0, scans=None
):
    """Progressive JPEG encoder for fixtures: same color transform /
    sampling / DCT / quantization math as ``_jpeg_bytes`` (so the
    coefficients are identical), serialized as SOF2 multi-scan —
    DC first + refine (interleaved or per-component), per-component
    AC band scans with EOB-run coding, AC refinement scans with
    buffered correction bits. AC scans use a flat 9-bit 256-symbol
    Huffman table (Annex K sequential AC tables lack the EOBn
    symbols progressive needs; real encoders ship custom DHTs)."""
    import struct

    import numpy as np

    from .test_northstar import (
        _JDC_C,
        _JDC_L,
        _JQ_C,
        _JQ_L,
        _JZZ,
        _jpeg_huff_codes,
    )

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
    if c == 3 and subsample:
        luma = (2, 2) if subsample is True else tuple(subsample)
        samp = [luma, (1, 1), (1, 1)]
    else:
        samp = [(1, 1)] * c
    h_max = max(s[0] for s in samp)
    v_max = max(s[1] for s in samp)
    mcux = -(-w // (8 * h_max))
    mcuy = -(-h // (8 * v_max))
    grids = []
    for p, (hs, vs), qtab in zip(
        planes, samp, [ql] + [qc] * (c - 1)
    ):
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
        g = np.zeros((mcuy * vs, mcux * hs, 64), np.int64)
        for by in range(mcuy * vs):
            for bx in range(mcux * hs):
                blk = p[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] - 128.0
                fq = M @ blk @ M.T
                zz = np.array([fq.flat[_JZZ[k]] for k in range(64)])
                g[by, bx] = np.round(zz / qtab).astype(np.int64)
        grids.append(g)

    dcl = _jpeg_huff_codes(*_JDC_L)
    dcc = _jpeg_huff_codes(*_JDC_C)
    # every possible RS symbol, canonical two-tier code (a DHT
    # count byte caps at 255, so 256 symbols need two lengths)
    flat_bits = [0] * 16
    flat_bits[7] = 128  # symbols 0x00-0x7F at code length 8
    flat_bits[8] = 128  # symbols 0x80-0xFF at code length 9
    flat = _jpeg_huff_codes(flat_bits, list(range(256)))

    if scans is None:
        if c == 1:
            scans = [
                ([0], 0, 0, 0, 1),
                ([0], 1, 63, 0, 2),
                ([0], 0, 0, 1, 0),
                ([0], 1, 63, 2, 1),
                ([0], 1, 63, 1, 0),
            ]
        else:
            scans = [
                ([0, 1, 2], 0, 0, 0, 1),
                ([0], 1, 5, 0, 2),
                ([1], 1, 63, 0, 1),
                ([2], 1, 63, 0, 1),
                ([0], 6, 63, 0, 2),
                ([0, 1, 2], 0, 0, 1, 0),
                ([0], 1, 63, 2, 1),
                ([1], 1, 63, 1, 0),
                ([2], 1, 63, 1, 0),
                ([0], 1, 63, 1, 0),
            ]

    def seg(marker, body):
        return (b"\xff" + bytes([marker])
                + struct.pack(">H", len(body) + 2) + body)

    def dht(tc, th_, bits, vals):
        return seg(0xC4, bytes([(tc << 4) | th_]) + bytes(bits)
                   + bytes(vals))

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(v) for v in ql))
    if c == 3:
        out += seg(0xDB, bytes([0x01]) + bytes(int(v) for v in qc))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, c))
    for ci in range(c):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += seg(0xC2, bytes(sof))  # SOF2: progressive DCT, Huffman
    out += dht(0, 0, *_JDC_L)
    out += dht(1, 0, flat_bits, list(range(256)))
    if c == 3:
        out += dht(0, 1, *_JDC_C)
        out += dht(1, 1, flat_bits, list(range(256)))
    if restart:
        out += seg(0xDD, struct.pack(">H", restart))

    def mag_bits(v):
        s = int(v).bit_length() if v > 0 else int(-v).bit_length()
        return s, (v if v >= 0 else v + (1 << s) - 1)

    for comps_idx, ss, se, ah, al in scans:
        sos = bytearray([len(comps_idx)])
        for ci in comps_idx:
            t = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, bytes(sos))

        acc = [0, 0]

        def put(lncode):
            ln, code = lncode
            acc[0] = (acc[0] << ln) | code
            acc[1] += ln
            while acc[1] >= 8:
                acc[1] -= 8
                b = (acc[0] >> acc[1]) & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)

        def flush():
            if acc[1]:
                ln = 8 - acc[1]
                put((ln, (1 << ln) - 1))
            acc[0] = acc[1] = 0

        # unit walk: MCU lattice for interleaved scans, the TRUE
        # block raster for single-component scans (T.81 A.2.2)
        interleaved = len(comps_idx) > 1
        if interleaved:
            units = []
            for u_ in range(mcux * mcuy):
                myi, mxi = divmod(u_, mcux)
                blks = []
                for ci in comps_idx:
                    hs, vs = samp[ci]
                    for byi in range(vs):
                        for bxi in range(hs):
                            blks.append(
                                (ci,
                                 grids[ci][myi * vs + byi,
                                           mxi * hs + bxi])
                            )
                units.append(blks)
        else:
            ci = comps_idx[0]
            hs, vs = samp[ci]
            ch = -(-(h * vs) // v_max)
            cw = -(-(w * hs) // h_max)
            nby, nbx = -(-ch // 8), -(-cw // 8)
            units = [
                [(ci, grids[ci][u_ // nbx, u_ % nbx])]
                for u_ in range(nby * nbx)
            ]

        dcp = {ci: 0 for ci in comps_idx}
        eobrun = [0]
        be_bits: list[int] = []

        def flush_eobrun():
            if eobrun[0]:
                nb = eobrun[0].bit_length() - 1
                put(flat[nb << 4])
                if nb:
                    put((nb, eobrun[0] - (1 << nb)))
                for b in be_bits:
                    put((1, b))
                be_bits.clear()
                eobrun[0] = 0

        rstn = 0
        for u_, blks in enumerate(units):
            if restart and u_ and u_ % restart == 0:
                flush_eobrun()
                flush()
                out += b"\xff" + bytes([0xD0 + (rstn & 7)])
                rstn += 1
                for ci in dcp:
                    dcp[ci] = 0
            for ci, zz in blks:
                dct = dcl if ci == 0 else dcc
                if ss == 0 and ah == 0:  # DC first
                    t = int(zz[0]) >> al
                    diff = t - dcp[ci]
                    dcp[ci] = t
                    s, bits = mag_bits(diff)
                    put(dct[s])
                    if s:
                        put((s, bits))
                elif ss == 0:  # DC refinement
                    put((1, (int(zz[0]) >> al) & 1))
                elif ah == 0:  # AC first (G.1.2.2)
                    vals = [int(zz[k]) for k in range(ss, se + 1)]
                    mags = [abs(v) >> al for v in vals]
                    if not any(mags):
                        eobrun[0] += 1
                        if eobrun[0] == 0x7FFF:
                            flush_eobrun()
                        continue
                    flush_eobrun()
                    last = max(i for i, mv in enumerate(mags) if mv)
                    run = 0
                    for i in range(last + 1):
                        mv = mags[i]
                        if mv == 0:
                            run += 1
                            continue
                        while run > 15:
                            put(flat[0xF0])
                            run -= 16
                        v = mv if vals[i] >= 0 else -mv
                        s, bits = mag_bits(v)
                        put(flat[(run << 4) | s])
                        put((s, bits))
                        run = 0
                    if last < len(vals) - 1:
                        eobrun[0] += 1
                else:  # AC refinement (G.1.2.3, libjpeg algorithm)
                    vals = [int(zz[k]) for k in range(ss, se + 1)]
                    absv = [abs(v) >> al for v in vals]
                    eobpos = max(
                        (i for i, t_ in enumerate(absv) if t_ == 1),
                        default=-1,
                    )
                    r = 0
                    br: list[int] = []
                    for i, t_ in enumerate(absv):
                        if t_ == 0:
                            r += 1
                            continue
                        while r > 15 and i <= eobpos:
                            flush_eobrun()
                            put(flat[0xF0])
                            r -= 16
                            for b in br:
                                put((1, b))
                            br = []
                        if t_ > 1:  # already significant: correction
                            br.append(t_ & 1)
                            continue
                        flush_eobrun()
                        put(flat[(r << 4) | 1])
                        put((1, 1 if vals[i] >= 0 else 0))
                        for b in br:
                            put((1, b))
                        br = []
                        r = 0
                    if r > 0 or br:
                        eobrun[0] += 1
                        be_bits.extend(br)
                        if eobrun[0] == 0x7FFF or len(be_bits) > 900:
                            flush_eobrun()
        flush_eobrun()
        flush()
    return bytes(out) + b"\xff\xd9"


def test_progressive_jpeg_bit_identical_to_baseline():
    """Progressive coding re-serializes the SAME quantized
    coefficients, so the decode must equal the baseline decode
    bit-for-bit — gray, 4:4:4, 4:2:0, and 4:2:2 fixtures."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    from .test_northstar import _jpeg_bytes

    jp = _pure_decoders()["jpeg"]
    rng = np.random.default_rng(42)
    cases = [
        (rng.integers(0, 255, (24, 17, 1)).astype(np.uint8), {}),
        (rng.integers(0, 255, (16, 16, 3)).astype(np.uint8), {}),
        (rng.integers(0, 255, (33, 26, 3)).astype(np.uint8),
         {"subsample": True}),
        (rng.integers(0, 255, (19, 21, 3)).astype(np.uint8),
         {"subsample": (2, 1)}),
    ]
    for arr, kw in cases:
        base = jp(_jpeg_bytes(arr, quality=85, **kw))
        prog = jp(_jpeg_progressive_bytes(arr, quality=85, **kw))
        assert np.array_equal(base, prog), (arr.shape, kw)


def test_progressive_jpeg_restarts_and_eobrun():
    """DRI/RSTn inside progressive scans (MCU-counted when
    interleaved, block-counted when not) and multi-block EOB runs
    (flat image) both reproduce the baseline decode."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    from .test_northstar import _jpeg_bytes

    jp = _pure_decoders()["jpeg"]
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 255, (40, 33, 3)).astype(np.uint8)
    for rst in (1, 2, 5):
        base = jp(_jpeg_bytes(arr, quality=80, subsample=True,
                              restart=rst))
        prog = jp(_jpeg_progressive_bytes(arr, quality=80,
                                          subsample=True, restart=rst))
        assert np.array_equal(base, prog), rst
    flat = np.full((48, 48, 3), 130, np.uint8)
    flat[5, 7] = [250, 3, 9]
    assert np.array_equal(
        jp(_jpeg_bytes(flat, quality=70)),
        jp(_jpeg_progressive_bytes(flat, quality=70)),
    )


def test_progressive_jpeg_scan_script_variants():
    """Per-component DC scans (true-raster unit walk on a subsampled
    frame) and a deep successive-approximation chain with narrow
    spectral bands — the scan-script degrees of freedom T.81 G
    allows — all land on the baseline decode."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    from .test_northstar import _jpeg_bytes

    jp = _pure_decoders()["jpeg"]
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 255, (17, 23, 3)).astype(np.uint8)
    percomp = [
        ([0], 0, 0, 0, 1), ([1], 0, 0, 0, 1), ([2], 0, 0, 0, 1),
        ([0], 1, 63, 0, 1), ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
        ([0], 0, 0, 1, 0), ([1], 0, 0, 1, 0), ([2], 0, 0, 1, 0),
        ([0], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0),
    ]
    assert np.array_equal(
        jp(_jpeg_bytes(arr, quality=88, subsample=True)),
        jp(_jpeg_progressive_bytes(arr, quality=88, subsample=True,
                                   scans=percomp)),
    )
    deep = (
        [([0], 0, 0, 0, 3), ([0], 0, 0, 3, 2), ([0], 0, 0, 2, 1),
         ([0], 0, 0, 1, 0)]
        + [([0], lo, hi, 0, 2)
           for lo, hi in [(1, 2), (3, 8), (9, 27), (28, 63)]]
        + [([0], 1, 63, 2, 1), ([0], 1, 63, 1, 0)]
    )
    g = rng.integers(0, 255, (25, 14, 1)).astype(np.uint8)
    assert np.array_equal(
        jp(_jpeg_bytes(g, quality=60)),
        jp(_jpeg_progressive_bytes(g, quality=60, scans=deep)),
    )


def test_progressive_jpeg_guards():
    """Malformed progressive streams raise the uniform clean errors,
    never a numpy/index crash: truncation, AC scan covering two
    components, bad approximation chain, bad spectral band."""
    import numpy as np
    import pytest

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    jp = _pure_decoders()["jpeg"]
    rng = np.random.default_rng(5)
    g = rng.integers(0, 255, (25, 14, 1)).astype(np.uint8)
    b = _jpeg_progressive_bytes(g, quality=60)
    with pytest.raises(ValueError):
        jp(b[: len(b) * 2 // 3])
    arr = rng.integers(0, 255, (16, 16, 3)).astype(np.uint8)
    # the fixture encoder writes whatever the scan script says; the
    # DECODER is the unit under test for the guards:
    bad_multi_ac = _jpeg_progressive_bytes(
        arr, scans=[([0, 1, 2], 0, 0, 0, 0), ([0, 1], 1, 63, 0, 0)]
    )
    with pytest.raises(ValueError, match="one component"):
        jp(bad_multi_ac)
    bad_ah = _jpeg_progressive_bytes(
        g, scans=[([0], 0, 0, 0, 2), ([0], 0, 0, 2, 0)]
    )
    with pytest.raises(ValueError, match="successive approximation"):
        jp(bad_ah)
    bad_band = _jpeg_progressive_bytes(
        g, scans=[([0], 0, 0, 0, 0), ([0], 5, 3, 0, 0)]
    )
    with pytest.raises(ValueError, match="spectral selection"):
        jp(bad_band)


def test_progressive_jpeg_spark_decode(spark):
    """Spark-side plumbing: decode_images(fake=False) over real
    progressive payloads — the Arrow mapInPandas pass returns the
    same dims/channels/mean as the baseline twin of each image."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        decode_images,
    )

    from .test_northstar import _jpeg_bytes

    rng = np.random.default_rng(13)
    imgs = {
        1: (rng.integers(0, 255, (24, 17, 3)).astype(np.uint8), {}),
        2: (rng.integers(0, 255, (15, 9, 1)).astype(np.uint8), {}),
        3: (rng.integers(0, 255, (22, 30, 3)).astype(np.uint8),
            {"subsample": True}),
    }
    rows = [
        (i, bytearray(_jpeg_progressive_bytes(a, quality=85, **kw)))
        for i, (a, kw) in imgs.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert set(got) == set(imgs)
    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    jp = _pure_decoders()["jpeg"]
    for i, (a, kw) in imgs.items():
        twin = jp(_jpeg_bytes(a, quality=85, **kw))
        r = got[i]
        assert (r["height"], r["width"], r["n_channels"]) == twin.shape
        assert abs(r["mean_intensity"] - float(twin.mean())) < 1e-6


# ---------------------------------------------------------------------------
# FLAC native decode (r13) — closes the lossless member of the
# entropy-coded audio gap (MP3/OGG stay gated: lossy codecs genuinely
# need ffmpeg). FLAC is LOSSLESS, so the oracle is exact sample
# roundtrip: decode(encode(x)) == x bit-for-bit.
# ---------------------------------------------------------------------------


def _flac_bytes(samples, rate=16000, bits=16, block=64, modes=None,
                force=None):
    """FLAC encoder for fixtures (public format spec): STREAMINFO +
    frames at a fixed blocksize (last frame shorter), per-frame
    stereo decorrelation cycling through ``modes`` (independent,
    left/side, right/side, mid/side), subframes chosen per channel —
    CONSTANT when flat, else FIXED order 0-2 with single-partition
    Rice residuals — or forced via ``force`` to exercise specific
    decoder paths: 'verbatim', 'lpc' (order-2 coefficients as an LPC
    subframe), 'escape' (raw-coded residual partition), 'wasted'
    (wasted-bits shift), 'parts' (4-partition Rice)."""
    import numpy as np

    x = np.asarray(samples, np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    assert x.min() >= lo and x.max() <= hi

    out = bytearray(b"fLaC")
    acc = [0, 0]
    buf = bytearray()

    def put(v, nb):
        acc[0] = (acc[0] << nb) | (v & ((1 << nb) - 1))
        acc[1] += nb
        while acc[1] >= 8:
            acc[1] -= 8
            buf.append((acc[0] >> acc[1]) & 0xFF)

    def align():
        if acc[1]:
            put(0, 8 - acc[1])

    # STREAMINFO (last-metadata flag set, type 0, 34 bytes)
    last_bs = n % block or block
    put(1, 1); put(0, 7); put(34, 24)
    put(min(block, last_bs), 16); put(block, 16)
    put(0, 24); put(0, 24)          # min/max framesize unknown
    put(rate, 20); put(ch - 1, 3); put(bits - 1, 5)
    put(n, 36)
    for _ in range(16):
        put(0, 8)                   # MD5 unknown
    align()
    out += buf
    buf.clear()

    def crc8(b):
        c = 0
        for v in b:
            c ^= v
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else c << 1
        return c

    def crc16(b):
        c = 0
        for v in b:
            c ^= v << 8
            for _ in range(8):
                c = (((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000
                     else (c << 1) & 0xFFFF)
        return c

    def utf8n(v):
        if v < 0x80:
            put(v, 8)
            return
        seq = []
        nb = v.bit_length()
        nbytes = 2
        while nb > 5 * nbytes + (7 - nbytes):
            nbytes += 1
        for _ in range(nbytes - 1):
            seq.append(0x80 | (v & 0x3F))
            v >>= 6
        head = ((0xFF << (8 - nbytes)) & 0xFF) | v
        put(head, 8)
        for b in reversed(seq):
            put(b, 8)

    def rice_residuals(res, order, bs):
        # residual coding method 0 (4-bit params); partition order
        po = 2 if (force == "parts" and bs % 4 == 0
                   and bs // 4 > order) else 0
        put(0, 2)
        put(po, 4)
        nparts = 1 << po
        per = bs >> po
        idx = 0
        for pi in range(nparts):
            cnt = per - (order if pi == 0 else 0)
            part = res[idx:idx + cnt]
            idx += cnt
            if force == "escape":
                rawb = max(
                    (int(v).bit_length() + 1 for v in part),
                    default=1,
                )
                put(0xF, 4)
                put(rawb, 5)
                for v in part:
                    put(int(v), rawb)
                continue
            u = [(int(v) << 1) if v >= 0 else ((int(-v) << 1) - 1)
                 for v in part]
            mean = (sum(u) / len(u)) if u else 0
            param = max(0, int(mean).bit_length() - 1)
            param = min(param, 14)
            put(param, 4)
            for uv in u:
                q = uv >> param
                put(0, q) if q else None
                put(1, 1)
                if param:
                    put(uv & ((1 << param) - 1), param)

    def subframe(sig, nbits):
        sig = [int(v) for v in sig]
        bs = len(sig)
        wasted = 0
        if force == "wasted":
            w = min((v & -v).bit_length() - 1 if v else 64
                    for v in sig)
            if w and w < 64:
                wasted = w
                sig = [v >> w for v in sig]
                nbits -= w
        put(0, 1)  # padding
        if len(set(sig)) == 1 and force is None:
            put(0, 6)                       # CONSTANT
            put(1, 1) if wasted else put(0, 1)
            if wasted:
                put(0, wasted - 1); put(1, 1)
            put(sig[0], nbits)
            return
        if force == "verbatim":
            put(1, 6)
            put(0, 1)
            for v in sig:
                put(v, nbits)
            return
        if force == "lpc":
            order = min(2, bs)
            put(32 + order - 1, 6)
            put(0, 1)
            for v in sig[:order]:
                put(v, nbits)
            coefs = [2, -1][:order]
            put(4 - 1, 4)      # precision 4
            put(1, 5)          # shift 1
            for c in coefs:
                put(c * 2, 4)  # (c*2) >> 1 == c
            res = [
                sig[i]
                - ((sum((cv * 2) * sig[i - 1 - j]
                        for j, cv in enumerate(coefs))) >> 1)
                for i in range(order, bs)
            ]
            rice_residuals(res, order, bs)
            return
        # FIXED: pick order 0-2 by residual magnitude
        best, best_res = None, None
        for order in (0, 1, 2):
            if order > bs - 1:
                break
            if order == 0:
                res = sig[:]
            elif order == 1:
                res = [sig[i] - sig[i - 1] for i in range(1, bs)]
            else:
                res = [sig[i] - 2 * sig[i - 1] + sig[i - 2]
                       for i in range(2, bs)]
            cost = sum(abs(v) for v in res)
            if best is None or cost < best[0]:
                best, best_res = (cost, order), res
        order = best[1]
        put(8 + order, 6)
        if wasted:
            put(1, 1); put(0, wasted - 1); put(1, 1)
        else:
            put(0, 1)
        for v in sig[:order]:
            put(v, nbits)
        rice_residuals(best_res, order, len(sig))

    if modes is None:
        modes = (["indep"] if ch != 2
                 else ["indep", "ls", "rs", "ms"])
    nframes = -(-n // block)
    for fi in range(nframes):
        seg_x = x[fi * block:(fi + 1) * block]
        bs = len(seg_x)
        mode = modes[fi % len(modes)]
        buf.clear()
        acc[0] = acc[1] = 0
        put(0x3FFE, 14); put(0, 1); put(0, 1)  # sync, rsvd, fixed-bs
        put(7, 4)       # blocksize: 16-bit at end of header
        put(0, 4)       # sample rate: STREAMINFO
        if mode == "indep":
            put(ch - 1, 4)
        else:
            put({"ls": 8, "rs": 9, "ms": 10}[mode], 4)
        put({8: 1, 16: 4, 24: 6}[bits], 3)
        put(0, 1)
        utf8n(fi)
        put(bs - 1, 16)
        align()
        hdr = bytes(buf)
        buf.clear()
        put(crc8(hdr), 8)
        if mode == "indep":
            sigs = [(seg_x[:, j], bits) for j in range(ch)]
        elif mode == "ls":
            sigs = [(seg_x[:, 0], bits),
                    (seg_x[:, 0] - seg_x[:, 1], bits + 1)]
        elif mode == "rs":
            sigs = [(seg_x[:, 0] - seg_x[:, 1], bits + 1),
                    (seg_x[:, 1], bits)]
        else:  # ms
            side = seg_x[:, 0] - seg_x[:, 1]
            mid = (seg_x[:, 0] + seg_x[:, 1]) >> 1
            sigs = [(mid, bits), (side, bits + 1)]
        for sig, nb in sigs:
            subframe(sig, nb)
        align()
        body = hdr + bytes(buf)
        buf.clear()
        put(crc16(body), 16)
        out += body + bytes(buf)
        buf.clear()
    return bytes(out)


def _walk_signal(n, ch, lo=-20000, hi=20000, seed=0, step=600):
    import numpy as np

    rng = np.random.default_rng(seed)
    x = np.cumsum(
        rng.integers(-step, step + 1, size=(n, ch)), axis=0
    )
    return np.clip(x, lo, hi).astype(np.int64)


def test_flac_roundtrip_exact_stereo_modes():
    """FLAC is lossless: decode(encode(x)) == x bit-for-bit, across
    multiple frames cycling independent/left-side/right-side/mid-side
    decorrelation, with a short last frame."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    fl = _pure_decoders()["flac"]
    x = _walk_signal(64 * 4 + 17, 2, seed=5)
    rate, got = fl(_flac_bytes(x, rate=22050, block=64))
    assert rate == 22050
    assert got.shape == x.shape
    assert np.array_equal(got, x)
    m = _walk_signal(150, 1, seed=6)
    rate, got = fl(_flac_bytes(m, rate=8000, block=64))
    assert np.array_equal(got, m)


def test_flac_roundtrip_forced_subframe_paths():
    """Every decoder branch under forced encoding: VERBATIM, LPC
    (order-2 quantized coefficients, shift=1), escape-coded raw
    residual partitions, wasted-bits shift, 4-partition Rice — all
    must land on the identical samples."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    fl = _pure_decoders()["flac"]
    x = _walk_signal(64 * 3, 2, seed=9)
    for force in ("verbatim", "lpc", "escape", "parts"):
        rate, got = fl(_flac_bytes(x, block=64, force=force))
        assert np.array_equal(got, x), force
    w = (_walk_signal(128, 2, seed=11) >> 3) << 3  # low bits zero
    rate, got = fl(_flac_bytes(w, block=64, force="wasted"))
    assert np.array_equal(got, w)
    const = np.full((130, 1), -777, np.int64)
    rate, got = fl(_flac_bytes(const, block=64))
    assert np.array_equal(got, const)


def test_flac_bit_depth_grid_alignment():
    """8-bit and 24-bit FLAC land on the same 16-bit-aligned grid as
    wav_array (<<8 / >>8), so depth changes don't move features."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    fl = _pure_decoders()["flac"]
    x8 = _walk_signal(100, 1, lo=-128, hi=127, step=9, seed=3)
    _, got = fl(_flac_bytes(x8, bits=8, block=64))
    assert np.array_equal(got, x8.astype(np.int64) << 8)
    x24 = _walk_signal(100, 2, lo=-(1 << 22), hi=(1 << 22) - 1,
                       step=77777, seed=4)
    _, got = fl(_flac_bytes(x24, bits=24, block=64))
    assert np.array_equal(got, x24 >> 8)


def test_flac_crc_and_gates():
    """Corrupted entropy bytes fail a CRC (never a silent wrong
    decode); MP3/OGG magics stay behind the guarded stub in the audio
    dispatcher."""
    import pytest

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    d = _pure_decoders()
    x = _walk_signal(128, 2, seed=13)
    b = bytearray(_flac_bytes(x, block=64))
    b[len(b) - 10] ^= 0x55  # flip bits inside the last frame
    with pytest.raises(ValueError, match="CRC|truncated|bad"):
        d["flac"](bytes(b))
    for payload in (b"ID3\x04" + b"\x00" * 64,
                    b"OggS" + b"\x00" * 64):
        with pytest.raises(NotImplementedError, match="MP3/OGG"):
            d["audio"](payload)


def test_flac_wav_feature_parity_spark(spark):
    """decode_audio(fake=False) over the SAME waveform shipped as WAV
    and as FLAC returns identical features (rate, channels, samples,
    duration, RMS) — container invariance through the Arrow pass; the
    envelope near-dup hash is likewise container-invariant."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        decode_audio,
        envelope_hash_audio,
    )

    from .test_northstar import _wav_bytes

    x = _walk_signal(1000, 2, seed=21)
    wav = _wav_bytes(x.astype(np.int16), rate=16000)
    flc = _flac_bytes(x, rate=16000, block=256)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(flc))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in decode_audio(df, fake=False).collect()}
    for col in ("sample_rate", "n_channels", "n_samples",
                "duration_ms", "rms"):
        assert rows[1][col] == rows[2][col], col
    h = {r["doc_id"]: r["envelope_hash"]
         for r in envelope_hash_audio(df, fake=False).collect()}
    assert h[1] == h[2]


# ---------------------------------------------------------------------------
# TIFF baseline decode (r13) — the container half of the "WebP/TIFF"
# gate: strips + PackBits decode natively; LZW/Deflate/JPEG-in-TIFF,
# tiles, and planar stay gated.
# ---------------------------------------------------------------------------


def _packbits(row: bytes) -> bytes:
    """Reference TIFF PackBits compressor (literal + repeat runs)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        j = i
        while j + 1 < n and row[j + 1] == row[j] and j - i < 127:
            j += 1
        if j > i:  # run of j-i+1 equal bytes
            out += bytes([257 - (j - i + 1), row[i]])
            i = j + 1
            continue
        j = i
        while (
            j + 1 < n
            and (j + 2 >= n or row[j + 1] != row[j + 2])
            and j - i < 127
        ):
            j += 1
        out += bytes([j - i]) + row[i : j + 1]
        i = j + 1
    return bytes(out)


def _tiff_bytes(arr, byteorder="<", photometric=None, rows_per_strip=5,
                packbits=False):
    """Baseline TIFF 6.0 encoder for fixtures: header + single IFD +
    strip data, both byte orders, gray (PhotometricInterpretation 0
    inverted or 1) and RGB/RGBA chunky, any RowsPerStrip, optional
    PackBits per strip."""
    import struct

    import numpy as np

    h, w, c = arr.shape
    if photometric is None:
        photometric = 1 if c == 1 else 2
    px = arr
    if photometric == 0:
        px = 255 - arr  # stored inverted
    strips = []
    for y0 in range(0, h, rows_per_strip):
        raw = np.ascontiguousarray(
            px[y0 : y0 + rows_per_strip]
        ).tobytes()
        strips.append(_packbits(raw) if packbits else raw)

    e = byteorder
    entries = []  # (tag, type, count, packed-value-or-None, payload)

    def short(tag, *vals):
        entries.append((tag, 3, len(vals), vals))

    def longt(tag, *vals):
        entries.append((tag, 4, len(vals), vals))

    short(256, w)
    short(257, h)
    short(258, *([8] * c))
    short(259, 32773 if packbits else 1)
    short(262, photometric)
    longt(273, *([0] * len(strips)))  # offsets patched below
    short(277, c)
    short(278, rows_per_strip)
    longt(279, *[len(s) for s in strips])
    if c == 4:
        short(338, 2)  # extra sample: unassociated alpha
    entries.sort(key=lambda t: t[0])

    # layout: header(8) + IFD + out-of-line tag data + strips
    ifd_at = 8
    ifd_len = 2 + 12 * len(entries) + 4
    heap = bytearray()
    heap_at = ifd_at + ifd_len
    ifd = bytearray(struct.pack(e + "H", len(entries)))
    patch273 = None
    for tag, typ, cnt, vals in entries:
        width = {3: 2, 4: 4}[typ]
        fmt = {3: "H", 4: "I"}[typ]
        blob = b"".join(struct.pack(e + fmt, v) for v in vals)
        ifd += struct.pack(e + "HHI", tag, typ, cnt)
        if len(blob) <= 4:
            if tag == 273:
                patch273 = ("inline", len(ifd))
            ifd += blob + b"\x00" * (4 - len(blob))
        else:
            if tag == 273:
                patch273 = ("heap", len(heap))
            ifd += struct.pack(e + "I", heap_at + len(heap))
            heap += blob
    ifd += struct.pack(e + "I", 0)  # no next IFD
    data_at = heap_at + len(heap)
    offsets = []
    o = data_at
    for s in strips:
        offsets.append(o)
        o += len(s)
    blob = b"".join(struct.pack(e + "I", v) for v in offsets)
    kind, at = patch273
    if kind == "inline":
        ifd[at : at + len(blob)] = blob
    else:
        heap[at : at + len(blob)] = blob
    hdr = (b"II*\x00" if e == "<" else b"MM\x00*") + struct.pack(
        e + "I", ifd_at
    )
    return hdr + bytes(ifd) + bytes(heap) + b"".join(strips)


def test_tiff_roundtrip_exact():
    """Uncompressed and PackBits strip TIFF, both byte orders, gray
    (both photometric polarities), RGB and RGBA, ragged last strip —
    all decode to the exact source raster."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    tf = _pure_decoders()["tiff"]
    rng = np.random.default_rng(23)
    gray = rng.integers(0, 256, (13, 7, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, (11, 9, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
    flat = np.full((12, 20, 3), 77, np.uint8)  # PackBits runs
    flat[3, 4] = [1, 2, 3]
    for arr, kw in [
        (gray, {}),
        (gray, {"photometric": 0}),
        (gray, {"byteorder": ">"}),
        (rgb, {}),
        (rgb, {"byteorder": ">", "rows_per_strip": 11}),
        (rgba, {"rows_per_strip": 3}),
        (flat, {"packbits": True}),
        (rgb, {"packbits": True, "byteorder": ">"}),
    ]:
        got = tf(_tiff_bytes(arr, **kw))
        assert np.array_equal(got, arr), kw


def test_tiff_gates_and_dispatch(spark):
    """LZW-compressed and tiled TIFF raise the guarded stub; the
    magic-byte dispatcher routes both byte orders; Spark
    decode_images(fake=False) handles TIFF payloads."""
    import struct as _s

    import numpy as np
    import pytest

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
        decode_images,
    )

    d = _pure_decoders()
    rng = np.random.default_rng(29)
    arr = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    b = bytearray(_tiff_bytes(arr))
    # patch Compression (tag 259) to JPEG-in-TIFF (7): still gated
    # (LZW/Deflate graduated to real decodes later in r13)
    n_ent = _s.unpack_from("<H", b, 8)[0]
    for i in range(n_ent):
        o = 10 + 12 * i
        if _s.unpack_from("<H", b, o)[0] == 259:
            _s.pack_into("<H", b, o + 8, 7)
    with pytest.raises(NotImplementedError, match="JPEG-in-TIFF"):
        d["tiff"](bytes(b))
    assert np.array_equal(d["any"](_tiff_bytes(arr, byteorder=">")), arr)
    df = spark.createDataFrame(
        [(1, bytearray(_tiff_bytes(arr, packbits=True)))],
        "doc_id long, payload binary",
    )
    row = decode_images(df, fake=False).collect()[0]
    assert (row["height"], row["width"], row["n_channels"]) == arr.shape
    assert abs(row["mean_intensity"] - float(arr.mean())) < 1e-6


# ---------------------------------------------------------------------------
# TIFF LZW/Deflate/Predictor + GIF decode (r13, late round) — the
# shared-LZW tier: TIFF Section 13 (MSB-first, early change) and GIF
# Appendix F (LSB-first) are one parameterized core.
# ---------------------------------------------------------------------------


def _lzw_encode(data: bytes, nsym: int, msb: bool, early: bool) -> bytes:
    """Reference LZW compressor for fixtures (both flavors), incl.
    code-width growth at 511/1023/2047 (early-change for TIFF) and a
    CLEAR-reset when the 12-bit table fills."""
    clear, eoi = nsym, nsym + 1
    width0 = (eoi + 1).bit_length()
    out = bytearray()
    st = [0, 0]  # bit accumulator, bit count

    def emit(code, width):
        if msb:
            st[0] = (st[0] << width) | code
            st[1] += width
            while st[1] >= 8:
                st[1] -= 8
                out.append((st[0] >> st[1]) & 0xFF)
            st[0] &= (1 << st[1]) - 1
        else:
            st[0] |= code << st[1]
            st[1] += width
            while st[1] >= 8:
                out.append(st[0] & 0xFF)
                st[0] >>= 8
                st[1] -= 8

    table = {bytes([i]): i for i in range(nsym)}
    next_code = eoi + 1
    width = width0
    emit(clear, width)
    w_seq = b""
    for byte in data:
        nxt = w_seq + bytes([byte])
        if nxt in table:
            w_seq = nxt
            continue
        emit(table[w_seq], width)
        table[nxt] = next_code
        next_code += 1
        if next_code + (1 if early else 0) > (1 << width):
            if width < 12:
                width += 1
            else:
                emit(clear, width)
                table = {bytes([i]): i for i in range(nsym)}
                next_code = eoi + 1
                width = width0
        w_seq = bytes([byte])
    if w_seq:
        emit(table[w_seq], width)
    emit(eoi, width)
    if st[1]:
        if msb:
            out.append((st[0] << (8 - st[1])) & 0xFF)
        else:
            out.append(st[0] & 0xFF)
    return bytes(out)


def _tiff_bytes_v2(arr, byteorder="<", photometric=None,
                   rows_per_strip=5, compression="none", predictor=1):
    """Extended TIFF fixture encoder: compression none/packbits/lzw/
    deflate, optional horizontal-differencing predictor."""
    import struct
    import zlib

    import numpy as np

    h, w, c = arr.shape
    if photometric is None:
        photometric = 1 if c == 1 else 2
    px = arr if photometric != 0 else 255 - arr
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5,
                 "deflate": 8}[compression]
    strips = []
    for y0 in range(0, h, rows_per_strip):
        seg = np.ascontiguousarray(px[y0 : y0 + rows_per_strip])
        if predictor == 2:
            seg = np.concatenate(
                [seg[:, :1], np.diff(seg.astype(np.int16), axis=1)],
                axis=1,
            ).astype(np.uint8)  # mod-256 horizontal differences
        raw = seg.tobytes()
        if compression == "packbits":
            raw = _packbits(raw)
        elif compression == "lzw":
            raw = _lzw_encode(raw, 256, msb=True, early=True)
        elif compression == "deflate":
            raw = zlib.compress(raw, 6)
        strips.append(raw)

    e = byteorder
    entries = []

    def short(tag, *vals):
        entries.append((tag, 3, len(vals), vals))

    def longt(tag, *vals):
        entries.append((tag, 4, len(vals), vals))

    short(256, w)
    short(257, h)
    short(258, *([8] * c))
    short(259, comp_code)
    short(262, photometric)
    longt(273, *([0] * len(strips)))
    short(277, c)
    short(278, rows_per_strip)
    longt(279, *[len(s) for s in strips])
    if predictor != 1:
        short(317, predictor)
    if c == 4:
        short(338, 2)
    entries.sort(key=lambda t: t[0])
    ifd_at = 8
    ifd_len = 2 + 12 * len(entries) + 4
    heap = bytearray()
    heap_at = ifd_at + ifd_len
    ifd = bytearray(struct.pack(e + "H", len(entries)))
    patch273 = None
    for tag, typ, cnt, vals in entries:
        fmt = {3: "H", 4: "I"}[typ]
        blob = b"".join(struct.pack(e + fmt, v) for v in vals)
        ifd += struct.pack(e + "HHI", tag, typ, cnt)
        if len(blob) <= 4:
            if tag == 273:
                patch273 = ("inline", len(ifd))
            ifd += blob + b"\x00" * (4 - len(blob))
        else:
            if tag == 273:
                patch273 = ("heap", len(heap))
            ifd += struct.pack(e + "I", heap_at + len(heap))
            heap += blob
    ifd += struct.pack(e + "I", 0)
    data_at = heap_at + len(heap)
    offsets = []
    o = data_at
    for s in strips:
        offsets.append(o)
        o += len(s)
    blob = b"".join(struct.pack(e + "I", v) for v in offsets)
    kind, at = patch273
    if kind == "inline":
        ifd[at : at + len(blob)] = blob
    else:
        heap[at : at + len(blob)] = blob
    hdr = (b"II*\x00" if e == "<" else b"MM\x00*") + struct.pack(
        e + "I", ifd_at
    )
    return hdr + bytes(ifd) + bytes(heap) + b"".join(strips)


def _gif_bytes(arr, interlace=False, version=b"GIF89a",
               with_extension=True):
    """GIF fixture encoder: arr (h, w, 3) with ≤256 distinct colors →
    global color table + Appendix-F LZW image data (sub-blocked),
    optional interlace and a skipped-over extension block."""
    import struct

    import numpy as np

    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    pal, inv = np.unique(flat, axis=0, return_inverse=True)
    n_colors = len(pal)
    assert n_colors <= 256
    bits = max(1, (n_colors - 1).bit_length())
    tbl_n = 1 << bits
    grid = inv.reshape(h, w).astype(np.uint8)
    if interlace:
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        stored = grid[order]
    else:
        stored = grid
    out = bytearray(version)
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.astype(np.uint8).tobytes()
    out += b"\x00" * (3 * (tbl_n - n_colors))
    if with_extension and version == b"GIF89a":
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE, no transp
        out += b"\x21\xfe\x05hello\x00"  # comment extension
    min_code = max(2, bits)
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
    )
    out += bytes([min_code])
    lzw = _lzw_encode(stored.tobytes(), 1 << min_code, msb=False,
                      early=False)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_tiff_lzw_deflate_predictor_roundtrips():
    """LZW (MSB-first early-change, incl. code-width growth past 511/
    1023 on a 20 kB noise strip), Deflate, and horizontal-predictor
    variants all reproduce the exact raster — both byte orders."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    tf = _pure_decoders()["tiff"]
    rng = np.random.default_rng(31)
    noise = rng.integers(0, 256, (40, 60, 3), dtype=np.uint8)
    smooth = (
        np.cumsum(rng.integers(-2, 3, (30, 50, 3)), axis=1) % 256
    ).astype(np.uint8)
    for arr, kw in [
        (noise, {"compression": "lzw", "rows_per_strip": 40}),
        (noise, {"compression": "lzw", "byteorder": ">"}),
        (smooth, {"compression": "lzw", "predictor": 2}),
        (noise, {"compression": "deflate"}),
        (smooth, {"compression": "deflate", "predictor": 2,
                  "byteorder": ">"}),
        (smooth, {"compression": "none", "predictor": 2}),
    ]:
        got = tf(_tiff_bytes_v2(arr, **kw))
        assert np.array_equal(got, arr), kw


def test_gif_roundtrip_and_variants():
    """GIF87a/89a decode: exact palette raster recovery for noise
    (256 colors, 12-bit LZW growth), flat runs, interlaced rasters,
    and streams with extension blocks to skip."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    gf = _pure_decoders()["gif"]
    rng = np.random.default_rng(37)
    pal256 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (96, 80), dtype=np.uint8)
    noise = pal256[idx]
    flat = np.full((20, 30, 3), [10, 200, 44], np.uint8)
    few = pal256[:5][rng.integers(0, 5, (33, 21), dtype=np.uint8)]
    for arr, kw in [
        (noise, {}),
        (noise, {"interlace": True}),
        (flat, {"version": b"GIF87a", "with_extension": False}),
        (few, {"interlace": True}),
        (few, {"version": b"GIF87a", "with_extension": False}),
    ]:
        got = gf(_gif_bytes(arr, **kw))
        assert got.shape == arr.shape, kw
        assert np.array_equal(got, arr), kw


def test_gif_tiff_gates_and_spark_dispatch(spark):
    """Malformed GIF raises cleanly; the magic dispatcher routes GIF;
    Spark decode_images(fake=False) handles LZW-TIFF and GIF
    payloads in one batch alongside the other formats."""
    import numpy as np
    import pytest

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
        decode_images,
    )

    d = _pure_decoders()
    rng = np.random.default_rng(41)
    arr = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    gif_arr = pal[rng.integers(0, 8, (9, 7), dtype=np.uint8)]
    with pytest.raises(ValueError, match="GIF"):
        d["gif"](b"GIF89a" + b"\x00" * 4)
    b = _gif_bytes(gif_arr)
    assert np.array_equal(d["any"](b), gif_arr)
    df = spark.createDataFrame(
        [
            (1, bytearray(_tiff_bytes_v2(arr, compression="lzw"))),
            (2, bytearray(b)),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in decode_images(df, fake=False).collect()}
    assert (rows[1]["height"], rows[1]["width"]) == (9, 7)
    assert abs(rows[1]["mean_intensity"] - float(arr.mean())) < 1e-6
    assert abs(rows[2]["mean_intensity"] - float(gif_arr.mean())) < 1e-6


def _gif_anim_bytes(grids, palette, version=b"GIF89a"):
    """Animated-GIF fixture: shared global table, one image block per
    frame, each preceded by a graphic-control extension (delay)."""
    import struct

    import numpy as np

    h, w = grids[0].shape
    n_colors = len(palette)
    bits = max(1, (n_colors - 1).bit_length())
    tbl_n = 1 << bits
    min_code = max(2, bits)
    out = bytearray(version)
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += np.asarray(palette, np.uint8).tobytes()
    out += b"\x00" * (3 * (tbl_n - n_colors))
    for g in grids:
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE: 10cs delay
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([min_code])
        lzw = _lzw_encode(
            np.asarray(g, np.uint8).tobytes(), 1 << min_code,
            msb=False, early=False,
        )
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_sample_frames_animated_gif(spark):
    """sample_frames(fake=False) walks animated-GIF image blocks:
    evenly spread picks across the true frame sequence, offsets
    pointing at the image descriptors, fingerprints over each frame's
    container span; gif_array still decodes the FIRST frame."""
    import hashlib

    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
        sample_frames,
    )

    rng = np.random.default_rng(43)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    grids = [
        rng.integers(0, 16, (10, 12), dtype=np.uint8) for _ in range(7)
    ]
    payload = _gif_anim_bytes(grids, pal)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = sorted(
        (
            (r["frame_idx"], r["frame_offset_bytes"], r["frame_sha256"])
            for r in sample_frames(df, n_frames=4, fake=False).collect()
        )
    )
    assert [r[0] for r in rows] == [0, 1, 2, 3]
    offs = [r[1] for r in rows]
    assert offs == sorted(offs) and len(set(offs)) == 4
    # picks are evenly spread over 7 frames: first pick is frame 0,
    # last pick is frame 6 — verify by recomputing the span shas
    for _, off, sha in rows:
        assert payload[off] == 0x2C
        # span: descriptor(10) + min-code(1) + sub-blocks + term
        p = off + 11
        while payload[p]:
            p += 1 + payload[p]
        p += 1
        want = hashlib.sha256(
            payload[off:p].hex().upper().encode("ascii")
        ).hexdigest()
        assert sha == want
    assert rows[0][1] == payload.index(b"\x2c")
    first = _pure_decoders()["gif"](payload)
    assert np.array_equal(first, pal[grids[0]])


def _tiff_bytes_16(arr16, byteorder="<", rows_per_strip=6,
                   compression="none", predictor=1):
    """16-bit-per-sample TIFF fixture (gray or RGB), optional
    horizontal predictor on the 16-bit lattice."""
    import struct
    import zlib

    import numpy as np

    h, w, c = arr16.shape
    photometric = 1 if c == 1 else 2
    comp_code = {"none": 1, "lzw": 5, "deflate": 8}[compression]
    strips = []
    for y0 in range(0, h, rows_per_strip):
        seg = arr16[y0 : y0 + rows_per_strip].astype(np.uint16)
        if predictor == 2:
            seg = np.concatenate(
                [seg[:, :1],
                 np.diff(seg.astype(np.int32), axis=1)
                 .astype(np.uint16)],
                axis=1,
            ).astype(np.uint16)
        raw = seg.astype(
            np.dtype(byteorder + "u2")
        ).tobytes()
        if compression == "lzw":
            raw = _lzw_encode(raw, 256, msb=True, early=True)
        elif compression == "deflate":
            raw = zlib.compress(raw, 6)
        strips.append(raw)
    e = byteorder
    entries = []

    def short(tag, *vals):
        entries.append((tag, 3, len(vals), vals))

    def longt(tag, *vals):
        entries.append((tag, 4, len(vals), vals))

    short(256, w); short(257, h); short(258, *([16] * c))
    short(259, comp_code); short(262, photometric)
    longt(273, *([0] * len(strips)))
    short(277, c); short(278, rows_per_strip)
    longt(279, *[len(s) for s in strips])
    if predictor != 1:
        short(317, predictor)
    entries.sort(key=lambda t: t[0])
    ifd_at, heap = 8, bytearray()
    heap_at = ifd_at + 2 + 12 * len(entries) + 4
    ifd = bytearray(struct.pack(e + "H", len(entries)))
    patch = None
    for tag, typ, cnt, vals in entries:
        fmt = {3: "H", 4: "I"}[typ]
        blob = b"".join(struct.pack(e + fmt, v) for v in vals)
        ifd += struct.pack(e + "HHI", tag, typ, cnt)
        if len(blob) <= 4:
            if tag == 273:
                patch = ("inline", len(ifd))
            ifd += blob + b"\x00" * (4 - len(blob))
        else:
            if tag == 273:
                patch = ("heap", len(heap))
            ifd += struct.pack(e + "I", heap_at + len(heap))
            heap += blob
    ifd += struct.pack(e + "I", 0)
    o = heap_at + len(heap)
    offsets = []
    for s in strips:
        offsets.append(o)
        o += len(s)
    blob = b"".join(struct.pack(e + "I", v) for v in offsets)
    kind, at = patch
    if kind == "inline":
        ifd[at : at + len(blob)] = blob
    else:
        heap[at : at + len(blob)] = blob
    hdr = (b"II*\x00" if e == "<" else b"MM\x00*") + struct.pack(
        e + "I", 8
    )
    return hdr + bytes(ifd) + bytes(heap) + b"".join(strips)


def _tiff_bytes_1bit(bits01, photometric=1, rows_per_strip=4,
                     packbits=False):
    """Bilevel TIFF fixture: rows bit-packed MSB-first, byte-padded."""
    import struct

    import numpy as np

    h, w = bits01.shape
    stored = bits01 if photometric == 1 else 1 - bits01
    strips = []
    for y0 in range(0, h, rows_per_strip):
        seg = stored[y0 : y0 + rows_per_strip]
        raw = np.packbits(seg.astype(np.uint8), axis=1).tobytes()
        strips.append(_packbits(raw) if packbits else raw)
    entries = []

    def short(tag, *vals):
        entries.append((tag, 3, len(vals), vals))

    def longt(tag, *vals):
        entries.append((tag, 4, len(vals), vals))

    short(256, w); short(257, h); short(258, 1)
    short(259, 32773 if packbits else 1)
    short(262, photometric)
    longt(273, *([0] * len(strips)))
    short(277, 1); short(278, rows_per_strip)
    longt(279, *[len(s) for s in strips])
    entries.sort(key=lambda t: t[0])
    ifd_at, heap = 8, bytearray()
    heap_at = ifd_at + 2 + 12 * len(entries) + 4
    ifd = bytearray(struct.pack("<H", len(entries)))
    patch = None
    for tag, typ, cnt, vals in entries:
        fmt = {3: "H", 4: "I"}[typ]
        blob = b"".join(struct.pack("<" + fmt, v) for v in vals)
        ifd += struct.pack("<HHI", tag, typ, cnt)
        if len(blob) <= 4:
            if tag == 273:
                patch = ("inline", len(ifd))
            ifd += blob + b"\x00" * (4 - len(blob))
        else:
            if tag == 273:
                patch = ("heap", len(heap))
            ifd += struct.pack("<I", heap_at + len(heap))
            heap += blob
    ifd += struct.pack("<I", 0)
    o = heap_at + len(heap)
    offsets = []
    for s in strips:
        offsets.append(o)
        o += len(s)
    blob = b"".join(struct.pack("<I", v) for v in offsets)
    kind, at = patch
    if kind == "inline":
        ifd[at : at + len(blob)] = blob
    else:
        heap[at : at + len(blob)] = blob
    return (b"II*\x00" + struct.pack("<I", 8) + bytes(ifd)
            + bytes(heap) + b"".join(strips))


def test_tiff_16bit_and_bilevel():
    """16-bit TIFF reduces exactly to the high byte (the PNG
    convention) across byte orders / LZW / Deflate / predictor-2 on
    the 16-bit lattice; 1-bit bilevel unpacks with per-row byte
    padding in both photometric polarities (+PackBits)."""
    import numpy as np

    from amazonmsk_emr_tem_data_spark.operators.multimodal import (
        _pure_decoders,
    )

    tf = _pure_decoders()["tiff"]
    rng = np.random.default_rng(47)
    hi = rng.integers(0, 256, (14, 11, 3), dtype=np.uint16)
    lo = rng.integers(0, 256, (14, 11, 3), dtype=np.uint16)
    a16 = (hi << 8) | lo
    want = hi.astype(np.uint8)
    for kw in [
        {},
        {"byteorder": ">"},
        {"compression": "lzw"},
        {"compression": "deflate", "byteorder": ">"},
        {"predictor": 2},
        {"predictor": 2, "compression": "lzw", "byteorder": ">"},
    ]:
        got = tf(_tiff_bytes_16(a16, **kw))
        assert np.array_equal(got, want), kw
    g16 = ((rng.integers(0, 256, (9, 13), dtype=np.uint16) << 8)
           | 0x7F)[..., None]
    assert np.array_equal(
        tf(_tiff_bytes_16(g16, predictor=2)),
        (g16 >> 8).astype(np.uint8),
    )
    bits = rng.integers(0, 2, (10, 19), dtype=np.uint8)
    for kw in [
        {"photometric": 1},
        {"photometric": 0},
        {"photometric": 1, "packbits": True},
    ]:
        got = tf(_tiff_bytes_1bit(bits, **kw))
        assert got.shape == (10, 19, 1), kw
        assert np.array_equal(got[..., 0], bits * np.uint8(255)), kw


# ---------------------------------------------------------------------------
# r13 optimization: score_pairs_cosine zero-copy Arrow fast path.
# A uniform batch (no NULL vectors, no NULL elements, one common
# length) takes the reshape-the-values-buffer path; its result must be
# BIT-identical to the JVM ``cosine`` expression, including the
# zero-vector -> NULL (try_divide) row, which stays inside the fast
# path via the denominator mask. The mixed/ragged batch semantics are
# pinned separately by test_score_pairs_cosine_batch_independent.
# ---------------------------------------------------------------------------


def test_score_pairs_cosine_fast_path_bit_identical(spark):
    import pyspark.sql.functions as F

    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        cosine,
        score_pairs_cosine,
    )

    rows = [
        (i, [float((i * 7 + j) % 13) - 6.0 for j in range(16)],
            [float((i * 11 + 3 * j) % 17) - 8.0 for j in range(16)])
        for i in range(1, 200)
    ]
    rows.append((200, [0.0] * 16, [1.0] * 16))  # zero vec -> NULL
    pairs = spark.createDataFrame(
        rows, "pid long, a array<double>, b array<double>"
    ).coalesce(1)  # one uniform Arrow batch -> the fast path

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
    assert got[200] is None and want[200] is None
    # bit-identical, not approx: both sides are the same single-rounded
    # per-dim fold
    assert got == want and len(got) == 200
