"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The decode/feature-extraction libraries (PIL/ffmpeg/torchcodec) do NOT
exist in this environment, so the *decoders are stubs* — clearly marked
and deterministic — while everything Spark-side is real and tested:
schemas, Arrow batch shapes, mapInPandas plumbing, partitioning.  On a
real cluster only the stub decoders are swapped for library calls;
the plan shape is unchanged.

Layout: media rows are (media_id, kind, payload: binary, meta struct);
the synthetic payload generator packs deterministic pseudo-pixels so
feature extraction has real bytes to chew on."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int,height:int,channels:int,sample_rate:int,n_frames:int>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, feat array<float>, feat_dim int"
)


def synth_media(spark, n: int = 100, partitions: int = None) -> DataFrame:
    """Deterministic fake media table (SplitMix64-seeded bytes)."""
    from ..sources.synth import _splitmix64

    rng_df = spark.range(0, n, 1, partitions or 4)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.uint64)
            rows = []
            for i in ids:
                kind = ["image", "audio", "video"][int(i) % 3]
                w, h, c = 8 + int(i) % 8, 8 + int(i) % 4, 3
                seed = _splitmix64(np.array([i], dtype=np.uint64))[0]
                nbytes = w * h * c if kind == "image" else 256
                payload = (
                    _splitmix64(np.uint64(seed) + np.arange(nbytes, dtype=np.uint64))
                    & np.uint64(0xFF)
                ).astype(np.uint8).tobytes()
                rows.append(
                    {
                        "media_id": int(i),
                        "kind": kind,
                        "payload": payload,
                        "meta": {
                            "width": w,
                            "height": h,
                            "channels": c,
                            "sample_rate": 16000 if kind == "audio" else 0,
                            "n_frames": 16 if kind == "video" else 1,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return rng_df.mapInPandas(gen, schema=MEDIA_SCHEMA)


def _decode_image_stub(payload: bytes, meta) -> np.ndarray:
    """STUB decoder: interprets the payload as raw HxWxC uint8.  A real
    deployment replaces this with PIL/turbojpeg decode.  Raises on
    size mismatch exactly like a real decoder would on corrupt data."""
    w, h, c = meta["width"], meta["height"], meta["channels"]
    arr = np.frombuffer(payload, dtype=np.uint8)
    if len(arr) != w * h * c:
        raise ValueError("corrupt image payload: %d != %d" % (len(arr), w * h * c))
    return arr.reshape(h, w, c)


def _segment_sums(cat, sizes):
    """Per-segment sums of a concatenated int64 array: prefix-sum
    differences — the empty-segment-safe equivalent of
    np.add.reduceat over offsets.  One cumsum for the whole batch."""
    cs = np.concatenate([[0], np.cumsum(cat, dtype=np.int64)])
    ends = np.cumsum(sizes)
    return cs[ends] - cs[ends - sizes]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: images → per-channel means +
    dims; audio → byte histogram moments; video → sampled-frame count
    vector.

    Batch statistics are computed over ONE concatenated buffer per
    Arrow batch (prefix-sum segment reduction), grouped by kind — the
    only remaining per-item work is assembling the variable-length
    feat lists.  At 100 TB this is the shape that matters: payload
    bytes cross into numpy once per batch, not once per row."""

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            kinds = pdf["kind"].to_numpy()
            payloads = pdf["payload"].to_numpy()
            metas = pdf["meta"].to_numpy()
            feats = [None] * n

            img_idx = np.nonzero(kinds == "image")[0]
            if len(img_idx):
                # group by channel count so each group reshapes to
                # (pixels, c) and channel sums are c column-segment sums
                chans = np.array([metas[i]["channels"] for i in img_idx])
                for c in np.unique(chans):
                    sub = img_idx[chans == c]
                    npix = np.array(
                        [metas[i]["width"] * metas[i]["height"] for i in sub],
                        dtype=np.int64,
                    )
                    # validate PER ITEM (an aggregate-only check lets a
                    # short payload + a long payload cancel out and
                    # silently misalign every segment after them)
                    got = np.array([len(payloads[i]) for i in sub], dtype=np.int64)
                    bad = np.nonzero(got != npix * c)[0]
                    if len(bad):
                        i = sub[bad[0]]
                        raise ValueError(
                            "corrupt image payload (media_id %s): %d != %d"
                            % (pdf["media_id"].iloc[i], got[bad[0]], npix[bad[0]] * c)
                        )
                    cat = np.frombuffer(
                        b"".join(payloads[i] for i in sub), dtype=np.uint8
                    )
                    mat = cat.reshape(-1, c).astype(np.int64)
                    ch_means = np.stack(
                        [_segment_sums(mat[:, ch], npix) for ch in range(c)],
                        axis=1,
                    ) / (npix[:, None] * 255.0)
                    for j, i in enumerate(sub):
                        feats[i] = ch_means[j].tolist() + [
                            metas[i]["width"] / 64.0,
                            metas[i]["height"] / 64.0,
                        ]

            aud_idx = np.nonzero(kinds == "audio")[0]
            if len(aud_idx):
                sizes = np.array([len(payloads[i]) for i in aud_idx], dtype=np.int64)
                cat = np.frombuffer(
                    b"".join(payloads[i] for i in aud_idx), dtype=np.uint8
                ).astype(np.int64)
                s1 = _segment_sums(cat, sizes)
                s2 = _segment_sums(cat * cat, sizes)
                mean = s1 / sizes
                var = s2 / sizes - mean * mean
                std = np.sqrt(np.maximum(var, 0.0))
                for j, i in enumerate(aud_idx):
                    feats[i] = [mean[j] / 255.0, std[j] / 255.0]

            vid_idx = np.nonzero(kinds == "video")[0]
            if len(vid_idx):
                nf = np.array([metas[i]["n_frames"] for i in vid_idx], dtype=np.int64)
                sampled = (nf + 3) // 4  # len(range(0, n, 4))
                for j, i in enumerate(vid_idx):
                    feats[i] = [float(sampled[j]), float(nf[j])]

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": kinds,
                    "feat": [[np.float32(x) for x in f] for f in feats],
                    "feat_dim": [len(f) for f in feats],
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL format codecs — BMP and WAV are fully specified byte layouts,
# decodable with pure numpy (no PIL/ffmpeg needed).  These upgrade the
# corresponding decode paths from stubs to genuine file-format parsing;
# compressed formats (JPEG/MP3/H.264) remain library-bound stubs.
# ---------------------------------------------------------------------------

def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 HxWx3 (RGB) → BMP (BITMAPINFOHEADER, 24bpp, bottom-up,
    BGR, rows padded to 4 bytes)."""
    h, w, c = img.shape
    assert c == 3, "24bpp BMP is 3-channel"
    row_bytes = (w * 3 + 3) & ~3
    data_size = row_bytes * h
    off = 14 + 40
    header = np.zeros(off, dtype=np.uint8)
    header[0:2] = [0x42, 0x4D]  # 'BM'
    header[2:6] = np.frombuffer(np.uint32(off + data_size).tobytes(), np.uint8)
    header[10:14] = np.frombuffer(np.uint32(off).tobytes(), np.uint8)
    header[14:18] = np.frombuffer(np.uint32(40).tobytes(), np.uint8)
    header[18:22] = np.frombuffer(np.int32(w).tobytes(), np.uint8)
    header[22:26] = np.frombuffer(np.int32(h).tobytes(), np.uint8)
    header[26:28] = np.frombuffer(np.uint16(1).tobytes(), np.uint8)   # planes
    header[28:30] = np.frombuffer(np.uint16(24).tobytes(), np.uint8)  # bpp
    header[34:38] = np.frombuffer(np.uint32(data_size).tobytes(), np.uint8)
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return header.tobytes() + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP (24bpp uncompressed) → uint8 HxWx3 RGB.  Pure numpy."""
    b = np.frombuffer(payload, dtype=np.uint8)
    if len(b) < 54 or b[0] != 0x42 or b[1] != 0x4D:
        raise ValueError("not a BMP payload")
    off = int(b[10:14].view(np.uint32)[0])
    w = int(b[18:22].view(np.int32)[0])
    h = int(b[22:26].view(np.int32)[0])
    bpp = int(b[28:30].view(np.uint16)[0])
    if bpp != 24:
        raise ValueError("only 24bpp BMP supported, got %d" % bpp)
    row_bytes = (w * 3 + 3) & ~3
    rows = b[off : off + row_bytes * abs(h)].reshape(abs(h), row_bytes)
    img = rows[:, : w * 3].reshape(abs(h), w, 3)[:, :, ::-1]  # BGR→RGB
    if h > 0:
        img = img[::-1]  # bottom-up
    return np.ascontiguousarray(img)


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono PCM → RIFF/WAVE bytes."""
    pcm = samples.astype("<i2").tobytes()

    def u32(x):
        return np.frombuffer(np.uint32(x).tobytes(), np.uint8)

    def u16(x):
        return np.frombuffer(np.uint16(x).tobytes(), np.uint8)

    hdr = np.concatenate(
        [
            np.frombuffer(b"RIFF", np.uint8), u32(36 + len(pcm)),
            np.frombuffer(b"WAVEfmt ", np.uint8), u32(16),
            u16(1), u16(1),                      # PCM, mono
            u32(sample_rate), u32(sample_rate * 2),
            u16(2), u16(16),                     # block align, bits
            np.frombuffer(b"data", np.uint8), u32(len(pcm)),
        ]
    )
    return hdr.tobytes() + pcm


def decode_wav(payload: bytes):
    """RIFF/WAVE PCM16 mono → (int16 samples ndarray, sample_rate)."""
    b = np.frombuffer(payload, dtype=np.uint8)
    if len(b) < 44 or b[:4].tobytes() != b"RIFF" or b[8:12].tobytes() != b"WAVE":
        raise ValueError("not a WAV payload")
    sample_rate = int(b[24:28].view(np.uint32)[0])
    bits = int(b[34:36].view(np.uint16)[0])
    if bits != 16:
        raise ValueError("only PCM16 supported, got %d bits" % bits)
    # scan chunks from offset 12 for 'data'
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4].tobytes()
        sz = int(b[pos + 4 : pos + 8].view(np.uint32)[0])
        if cid == b"data":
            raw = b[pos + 8 : pos + 8 + sz]
            return raw.view("<i2").copy(), sample_rate
        pos += 8 + sz + (sz & 1)
    raise ValueError("WAV data chunk not found")


def wav_content_sums_batch(payloads):
    """Per-file sum of PCM16 samples for a batch of WAV payloads,
    vectorized: files with the canonical single-'data'-chunk layout
    (exactly what encode_wav emits — 44-byte header, data chunk at
    offset 36) are validated with ONE fancy-indexed header gather and
    summed over one concatenated int16 view (prefix-sum segment
    reduction); anything non-canonical (extra chunks, odd layouts)
    falls back to the full chunk-scanning decode_wav per file.  Either
    path is the REAL codec — the fast path only hoists the header
    checks out of the per-file loop.  Returns np.int64[n]."""
    n = len(payloads)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    sizes = np.fromiter((len(p) for p in payloads), np.int64, n)
    cat = np.frombuffer(b"".join(bytes(p) for p in payloads), np.uint8)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])

    cand = np.nonzero(sizes >= 44)[0]
    canonical = np.zeros(n, dtype=bool)
    if len(cand):
        hdrs = cat[starts[cand][:, None] + np.arange(44)]

        def tag(off, s):
            want = np.frombuffer(s, np.uint8)
            return (hdrs[:, off : off + len(s)] == want).all(axis=1)

        dsz = hdrs[:, 40:44].copy().view("<u4")[:, 0].astype(np.int64)
        fmtsz = hdrs[:, 16:20].copy().view("<u4")[:, 0].astype(np.int64)
        ok = (
            tag(0, b"RIFF")
            & tag(8, b"WAVEfmt ")
            & (fmtsz == 16)  # canonical fmt chunk — an extended fmt
            # chunk (size > 16) shifts the data chunk past offset 36,
            # so without this check extension bytes spelling 'data'
            # could masquerade as the data header
            & (hdrs[:, 20] == 1)  # PCM format code
            & (hdrs[:, 21] == 0)
            & tag(36, b"data")
            & (hdrs[:, 34] == 16)  # bits
            & (hdrs[:, 35] == 0)
            & (dsz == sizes[cand] - 44)
            & (dsz % 2 == 0)
        )
        canonical[cand[ok]] = True

    can_idx = np.nonzero(canonical)[0]
    if len(can_idx):
        # mark every data byte of every canonical file in one pass
        d = np.zeros(len(cat) + 1, dtype=np.int8)
        np.add.at(d, starts[can_idx] + 44, 1)
        np.add.at(d, starts[can_idx] + sizes[can_idx], -1)
        mask = np.cumsum(d[:-1]) > 0
        samples = cat[mask].view("<i2").astype(np.int64)
        out[can_idx] = _segment_sums(samples, (sizes[can_idx] - 44) // 2)

    for i in np.nonzero(~canonical)[0]:
        s, _rate = decode_wav(bytes(payloads[i]))
        out[i] = int(s.astype(np.int64).sum())
    return out


def synth_real_media(spark, n: int = 100) -> DataFrame:
    """Media table whose image/audio payloads are REAL file bytes
    (BMP / WAV), exercising the genuine decoders end-to-end; video
    stays a stub payload (codecs are library-bound)."""
    from ..sources.synth import _splitmix64

    rng_df = spark.range(0, n, 1, 4)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy(np.uint64):
                kind = ["image", "audio"][int(i) % 2]
                seed = _splitmix64(np.array([i], dtype=np.uint64))[0]
                if kind == "image":
                    w, h = 8 + int(i) % 8, 8 + int(i) % 4
                    px = (
                        _splitmix64(np.uint64(seed) + np.arange(w * h * 3, dtype=np.uint64))
                        & np.uint64(0xFF)
                    ).astype(np.uint8).reshape(h, w, 3)
                    payload, meta = encode_bmp(px), {
                        "width": w, "height": h, "channels": 3,
                        "sample_rate": 0, "n_frames": 1,
                    }
                else:
                    ns = 64 + int(i) % 64
                    samples = (
                        (_splitmix64(np.uint64(seed) + np.arange(ns, dtype=np.uint64))
                         & np.uint64(0xFFFF)).astype(np.int64) - 32768
                    ).astype(np.int16)
                    payload, meta = encode_wav(samples, 16000), {
                        "width": 0, "height": 0, "channels": 1,
                        "sample_rate": 16000, "n_frames": ns,
                    }
                rows.append(
                    {"media_id": int(i), "kind": kind, "payload": payload, "meta": meta}
                )
            yield pd.DataFrame(rows)

    return rng_df.mapInPandas(gen, schema=MEDIA_SCHEMA)
