"""Streaming incremental encode + multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vcf2df_spark import fixtures, streaming
from vcf2df_spark.decode import decode_blocks
from vcf2df_spark.operators import multimodal


def test_incremental_encode_matches_batch(spark, tmp_path):
    """Two files, one epoch EACH (maxFilesPerTrigger=1) -> the decoded
    two-epoch union is bit-identical. Regression: epoch 2 reuses epoch 1's
    (partition_id, chunk_idx) keys by design — decode must group on the
    epoch partition column too (decode.group_keys) or blocks from
    different epochs fuse into one corrupt chunk."""
    src = fixtures.transcripts_small(n_convs=300)
    half = len(src) // 2
    indir = tmp_path / "in"
    indir.mkdir()
    fixtures.write_parquet(src.iloc[:half], str(indir / "part1.parquet"))
    fixtures.write_parquet(src.iloc[half:], str(indir / "part2.parquet"))

    wh = str(tmp_path / "wh")
    q = streaming.incremental_encode(
        spark, str(indir), wh, checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    # two distinct epochs actually ran; pids intentionally REPEAT across
    # epochs (no remap — it overflowed int32 and collided on restart with a
    # different num_partitions), so epoch must be part of the group key
    blocks_df = spark.read.parquet(f"{wh}/blocks")
    blocks_pdf = blocks_df.toPandas()
    assert blocks_pdf["epoch"].nunique() == 2
    per_epoch_pids = blocks_pdf.groupby("epoch")["partition_id"].unique()
    assert set(per_epoch_pids.iloc[0]) & set(per_epoch_pids.iloc[1])
    from vcf2df_spark.decode import group_keys

    assert group_keys(blocks_df) == ["partition_id", "chunk_idx", "epoch"]

    manifests = spark.read.parquet(f"{wh}/manifests").toPandas()
    assert manifests["n_rows"].sum() == len(src)

    decoded = decode_blocks(spark.read.parquet(f"{wh}/blocks")).toPandas()
    assert len(decoded) == len(src)
    l = src.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    r = decoded.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (l["text"].to_numpy() == r["text"].to_numpy()).all()
    lts = l["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    rts = r["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    assert np.array_equal(lts, rts)

    # restart with the same checkpoint: no new data -> no duplicate blocks
    q2 = streaming.incremental_encode(
        spark, str(indir), wh, checkpoint=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    decoded2 = decode_blocks(spark.read.parquet(f"{wh}/blocks"))
    assert decoded2.count() == len(src)


def test_turn_rate_windows_batch_semantics(spark):
    """Window agg shape check on a static frame (same plan as streaming)."""
    src = spark.createDataFrame(fixtures.transcripts_tiny())
    out = streaming.turn_rate_windows(src.withColumn("ts", F.col("ts").cast("timestamp")))
    pdf = out.toPandas()
    assert set(pdf.columns) == {"window_start", "window_end", "role", "n_turns"}
    assert pdf["n_turns"].sum() == 4


def test_multimodal_features(spark):
    media = multimodal.synthesize_media(spark, n=64)
    feats = multimodal.extract_features(media).toPandas()
    assert len(feats) == 64
    # header magic survives the arrow roundtrip
    img = feats[feats["kind"] == "image"]
    assert (img["header_hex"] == b"\x89PNG\r\n\x1a\n".hex()).all()
    # stub decode is marked, not silently skipped
    assert (~feats["decoded"]).all()
    assert (feats["n_bytes"] > 8).all()
    assert ((feats["byte_entropy"] > 0) & (feats["byte_entropy"] <= 8)).all()


def test_multimodal_stub_raises():
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal._decode_image(b"\x89PNG")


def test_wav_parse_roundtrip():
    """parse_wav recovers exactly what synthesize_wav wrote — PCM16 and
    float32, mono and stereo, odd data sizes (chunk word-alignment)."""
    for ch, bits, n in [(1, 16, 16000), (2, 16, 8001), (1, 32, 777)]:
        raw = multimodal.synthesize_wav(
            n, sample_rate=8000, channels=ch, bits=bits
        )
        w = multimodal.parse_wav(raw)
        assert (w["sample_rate"], w["channels"], w["bits"]) == (8000, ch, bits)
        assert w["n_frames"] == n
        assert abs(w["duration_sec"] - n / 8000) < 1e-9
        assert w["samples"].shape == (n, ch)
        # a full-scale sine has RMS ~ 1/sqrt(2)
        rms = float(np.sqrt((w["samples"] ** 2).mean()))
        assert abs(rms - 2 ** -0.5) < 0.01
    # non-WAV and compressed containers stay stubbed, loudly
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.parse_wav(b"RIFF\x00\x00\x00\x00" + b"x" * 64)  # no WAVE
    with _pytest.raises(NotImplementedError):
        # format tag 85 = MP3-in-WAV: needs a codec library
        mp3ish = bytearray(multimodal.synthesize_wav(64))
        mp3ish[20] = 85
        multimodal.parse_wav(bytes(mp3ish))


def test_bmp_parse_roundtrip():
    """parse_bmp recovers exactly what synthesize_bmp wrote — 24-bit
    gradient and 8-bit palette, including non-multiple-of-4 row widths
    (row padding) and the bottom-up row flip."""
    for w, h, bits in [(32, 16, 24), (33, 7, 24), (30, 5, 8)]:
        raw = multimodal.synthesize_bmp(w, h, bits=bits, seed=3)
        b = multimodal.parse_bmp(raw)
        assert (b["width"], b["height"], b["bits"]) == (w, h, bits)
        ch = bits // 8
        assert b["pixels"].shape == (h, w, ch)
        # top-left pixel of the 24-bit gradient: (x+seed, y+2*seed, x+y)
        if bits == 24:
            assert tuple(b["pixels"][0, 0]) == (3, 6, 0)
            assert tuple(b["pixels"][h - 1, w - 1]) == (
                (w - 1 + 3) % 256, (h - 1 + 6) % 256, (w - 1 + h - 1) % 256
            )
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.parse_bmp(b"\x89PNG\r\n\x1a\n" + b"x" * 64)
    with _pytest.raises(NotImplementedError):
        # BI_RLE8 (compression=1) needs a codec path
        rle = bytearray(multimodal.synthesize_bmp(8, 8, bits=8))
        rle[30] = 1
        multimodal.parse_bmp(bytes(rle))


def test_image_features_through_map_in_arrow(spark):
    rows = [
        (0, "image", multimodal.synthesize_bmp(64, 48, seed=1), "{}"),
        (1, "image", multimodal.synthesize_bmp(17, 9, bits=8), "{}"),
        (2, "image", b"\x89PNG\r\n\x1a\n" + b"\x01" * 64, "{}"),  # stubbed
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = (
        multimodal.image_features(media).toPandas()
        .set_index("media_id").sort_index()
    )
    assert feats.loc[0, "decoded"]
    assert (feats.loc[0, "width"], feats.loc[0, "height"]) == (64, 48)
    assert feats.loc[1, "bits"] == 8
    assert not feats.loc[2, "decoded"] and pd.isna(feats.loc[2, "width"])
    want = float(multimodal.parse_bmp(rows[0][2])["pixels"].mean())
    assert abs(feats.loc[0, "mean_luma"] - want) < 1e-6


def test_audio_features_through_map_in_arrow(spark):
    """The REAL decode path end-to-end: WAV payloads decode to sample-rate
    /duration/RMS through mapInArrow; undecodable rows null out."""
    rows = [
        (0, "audio", multimodal.synthesize_wav(32000, sample_rate=16000), "{}"),
        (1, "audio", multimodal.synthesize_wav(4410, sample_rate=44100,
                                               channels=2), "{}"),
        (2, "audio", b"RIFF\x00\x00\x00\x00" + b"\x07" * 100, "{}"),  # fake
        (3, "audio", multimodal.synthesize_wav(800, sample_rate=8000,
                                               bits=32), "{}"),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = (
        multimodal.audio_features(media).toPandas()
        .set_index("media_id").sort_index()
    )
    assert feats.loc[0, "decoded"] and feats.loc[0, "sample_rate"] == 16000
    assert abs(feats.loc[0, "duration_sec"] - 2.0) < 1e-6
    assert feats.loc[1, "channels"] == 2
    assert abs(feats.loc[1, "duration_sec"] - 0.1) < 1e-6
    assert not feats.loc[2, "decoded"] and pd.isna(feats.loc[2, "sample_rate"])
    assert feats.loc[3, "bits"] == 32
    assert abs(feats.loc[0, "rms"] - 2 ** -0.5) < 0.01
    # the generic feature extractor's probe now reports audio as decodable
    gen = multimodal.extract_features(
        media.filter(F.col("media_id") != 2)
    ).toPandas()
    assert gen["decoded"].all()


def test_stateful_conversation_tracker(spark, tmp_path):
    """State accumulates across micro-batches; final per-conversation
    counts equal the batch groupBy ground truth."""
    from vcf2df_spark.blocks import TRANSCRIPT_SCHEMA

    src = fixtures.transcripts_small(n_convs=50)
    indir = tmp_path / "sin"
    indir.mkdir()
    half = len(src) // 2
    fixtures.write_parquet(src.iloc[:half], str(indir / "a.parquet"))
    fixtures.write_parquet(src.iloc[half:], str(indir / "b.parquet"))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    out = streaming.conversation_state(stream)
    q = (
        out.writeStream.format("memory").queryName("conv_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("SELECT * FROM conv_state").toPandas()
        .sort_values("n_turns")
        .groupby("conv_id").last()  # latest update per conversation
    )
    want = src.groupby("conv_id").agg(
        n_turns=("turn_idx", "size"), max_turn_idx=("turn_idx", "max")
    )
    assert got["n_turns"].sort_index().equals(want["n_turns"].sort_index())
    assert (
        got["max_turn_idx"].sort_index().astype("int64")
        .equals(want["max_turn_idx"].sort_index().astype("int64"))
    )


def test_batch_features_vectorized_matches_reference():
    """The Arrow-buffer batch path equals a per-row reference computation,
    including empty payloads (regression: per-row .as_py() materialization
    replaced by one segmented bincount per batch)."""
    import math

    import pyarrow as pa

    payloads = [b"\x89PNG\r\n\x1a\x08" + bytes(range(50)) * 3, b"", b"\x00",
                bytes([7] * 100), b"abcdefghij" * 20]
    arr = pa.array(payloads, type=pa.binary())
    n_bytes, entropy, headers = multimodal._batch_features(arr)

    for i, b in enumerate(payloads):
        assert n_bytes[i] == len(b)
        assert headers[i] == b[:8].hex()
        if b:
            counts = np.bincount(np.frombuffer(b, dtype=np.uint8), minlength=256)
            p = counts[counts > 0] / len(b)
            want = -(p * np.log2(p)).sum()
            assert math.isclose(entropy[i], round(want, 6), abs_tol=1e-6)
        else:
            assert entropy[i] == 0.0


def test_streaming_dedup_across_epochs(spark, tmp_path):
    """Duplicate texts dropped across micro-batches: the same corpus lands
    twice (two files, one epoch each); each distinct text is emitted once."""
    from vcf2df_spark.blocks import TRANSCRIPT_SCHEMA

    src = fixtures.transcripts_small(n_convs=40)
    indir = tmp_path / "din"
    indir.mkdir()
    fixtures.write_parquet(src, str(indir / "a.parquet"))
    dup = src.copy()
    dup["conv_id"] = "re-" + dup["conv_id"]  # same texts, new conversations
    fixtures.write_parquet(dup, str(indir / "b.parquet"))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    q = (
        streaming.streaming_dedup(stream)
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM dedup_out").toPandas()
    n_distinct = src["text"].nunique()
    assert len(got) == n_distinct            # one emission per distinct text
    assert got["text_hash"].is_unique


def test_incremental_encode_dynamic_schema(spark, tmp_path):
    """Streaming encode of a table with extra typed columns round-trips."""
    src = fixtures.transcripts_extended(n_convs=60)
    indir = tmp_path / "ein"
    indir.mkdir()
    fixtures.write_parquet(src, str(indir / "a.parquet"))

    wh = str(tmp_path / "ewh")
    schema = spark.read.parquet(str(indir / "a.parquet")).schema
    q = streaming.incremental_encode(
        spark, str(indir), wh, checkpoint=str(tmp_path / "eck"), schema=schema
    )
    q.awaitTermination(120)

    decoded = decode_blocks(spark.read.parquet(f"{wh}/blocks")).toPandas()
    assert len(decoded) == len(src)
    assert {"score", "flagged", "model", "tokens_out"} <= set(decoded.columns)
    l = src.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    r = decoded.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert np.array_equal(
        l["score"].to_numpy().view(np.int64),
        r["score"].to_numpy().view(np.int64),
    )
    assert (l["model"].to_numpy() == r["model"].to_numpy()).all()


def test_streaming_dedup_state_ttl(spark, tmp_path):
    """Bounded dedup state (VERDICT r3 #4): entries idle past the EVENT-TIME
    horizon are evicted (a later duplicate re-emits), while duplicates
    within the horizon stay suppressed — the windowed-dedup contract an
    unbounded 100-TB/day stream needs. One availableNow drain over five
    staged files with crafted event times: deterministic, no sleeps (a
    processing-time TTL never terminates under availableNow)."""
    import os

    import pandas as pd

    from vcf2df_spark.blocks import TRANSCRIPT_SCHEMA

    indir = tmp_path / "tin"
    indir.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")

    src = fixtures.transcripts_small(n_convs=20)
    n_distinct = src["text"].nunique()

    def stamped(df, prefix, minutes):
        out = df.copy()
        if prefix:
            out["conv_id"] = prefix + out["conv_id"]
        out["ts"] = base + pd.Timedelta(minutes=minutes)
        return out

    fresh = fixtures.transcripts_small(n_convs=6, seed=99)
    fresh["text"] = "fresh " + fresh["text"]
    fresh2 = fixtures.transcripts_small(n_convs=6, seed=123)
    fresh2["text"] = "fresh2 " + fresh2["text"]

    files = [
        ("a", stamped(src, "", 0)),         # originals at T0
        ("b", stamped(src, "re-", 10)),     # duplicate INSIDE the horizon
        ("c", stamped(fresh, "", 120)),     # advances watermark past a/b
        ("d", stamped(fresh2, "", 121)),    # the batch that fires evictions
        ("e", stamped(src, "late-", 180)),  # post-horizon duplicate
    ]
    for k, (name, df) in enumerate(files):
        path = str(indir / f"{name}.parquet")
        fixtures.write_parquet(df, path)
        os.utime(path, (1e9 + 100 * k, 1e9 + 100 * k))  # pin batch order

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        q = (
            streaming.streaming_dedup(stream, state_ttl="30 minutes")
            .writeStream.format("memory").queryName("ttl_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert not q.isActive, "availableNow drain must terminate"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    got = spark.sql("SELECT * FROM ttl_out").toPandas()
    # within the horizon: suppressed exactly as the unbounded variant
    assert not got["conv_id"].str.startswith("re-").any()
    # after the horizon: state was evicted, the duplicate re-emits
    assert got["conv_id"].str.startswith("late-").sum() == n_distinct
    n_fresh = fresh["text"].nunique() + fresh2["text"].nunique()
    assert len(got) == 2 * n_distinct + n_fresh


def test_conversation_state_ttl_closes_sessions(spark, tmp_path):
    """Event-time TTL on the conversation tracker: a conversation idle
    past the horizon emits one final closed=true summary and its state is
    evicted (a later reappearance restarts from zero) — bounded state +
    the standard sessionization close event."""
    import os

    from vcf2df_spark.blocks import TRANSCRIPT_SCHEMA

    indir = tmp_path / "cin"
    indir.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")

    def frame(conv, n, minutes):
        return pd.DataFrame({
            "conv_id": [conv] * n,
            "turn_idx": list(range(n)),
            "role": ["user"] * n,
            "text": [f"{conv}-{i}" for i in range(n)],
            "tool": [""] * n,
            "ts": [base + pd.Timedelta(minutes=minutes + i) for i in range(n)],
        })

    files = [
        ("a", frame("conv-A", 3, 0)),        # session at T0..T0+2min
        ("b", frame("conv-B", 2, 120)),      # watermark advances past A
        ("c", frame("conv-C", 2, 121)),      # the batch that closes A
        ("d", frame("conv-A", 1, 180)),      # A reappears: fresh state
    ]
    for k, (name, df) in enumerate(files):
        path = str(indir / f"{name}.parquet")
        fixtures.write_parquet(df, path)
        os.utime(path, (2e9 + 100 * k, 2e9 + 100 * k))

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir))
        )
        q = (
            streaming.conversation_state(stream, state_ttl="30 minutes")
            .writeStream.format("memory").queryName("cstate_ttl")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "cck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert not q.isActive
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    got = spark.sql("SELECT * FROM cstate_ttl").toPandas()
    closed = got[got["closed"]]
    # A closes when batch c advances the watermark past it; B and C close
    # in availableNow's final timeout pass (their last events are > TTL
    # behind the final watermark). A's REOPENED session (minute 180) is
    # within the horizon, so it is not closed.
    assert sorted(closed["conv_id"]) == ["conv-A", "conv-B", "conv-C"]
    a_closed = closed[closed["conv_id"] == "conv-A"]
    assert len(a_closed) == 1 and int(a_closed["n_turns"].iloc[0]) == 3
    # post-close reappearance restarted from evicted (empty) state: the
    # new session's update counts only the new turn
    fresh = got[(got["conv_id"] == "conv-A") & (got["n_turns"] == 1)]
    assert len(fresh) == 1 and not fresh["closed"].iloc[0]


def test_streaming_warehouse_point_lookup_routed(spark, tmp_path):
    """ADVICE r3 (medium): streaming manifests now record num_partitions,
    so a point lookup on a streaming warehouse routes by hash instead of
    falling into the conv-range fallback (which cannot prune a hash layout
    and previously dropped partitions with suppressed stats). The lookup
    must return the COMPLETE conversation across epochs."""
    from vcf2df_spark.manifest import WarehouseMeta
    from vcf2df_spark.scan import fetch_conversation

    src = fixtures.transcripts_small(n_convs=40)
    indir = tmp_path / "pin"
    indir.mkdir()
    half = len(src) // 2
    fixtures.write_parquet(src.iloc[:half], str(indir / "a.parquet"))
    fixtures.write_parquet(src.iloc[half:], str(indir / "b.parquet"))

    wh = str(tmp_path / "pwh")
    q = streaming.incremental_encode(
        spark, str(indir), wh, checkpoint=str(tmp_path / "pck"),
        num_partitions=4, max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    # routing metadata is on record -> the exact hash route, not the range
    # fallback (which returns [] on streaming layouts without it)
    cid = src["conv_id"].iloc[len(src) // 3]
    pids, _ = WarehouseMeta.load(wh).route([cid])
    assert pids is not None and len(pids) <= 4

    got = fetch_conversation(spark, wh, cid)
    want = src[src["conv_id"] == cid].sort_values("turn_idx")
    assert len(got) == len(want) > 0
    assert list(got["turn_idx"]) == list(want["turn_idx"])
    assert list(got["text"]) == list(want["text"])
