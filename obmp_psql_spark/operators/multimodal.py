"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas
functions via ``mapInPandas``.

Kernels come in two flavors selected by the ``kernel`` parameter:
``"pil"`` uses Pillow when importable (real decode/resize — this
container ships without image libraries, so PIL-equipped deployments
get the real path with zero API change); ``"fake"`` computes
deterministic fake metadata/bytes from the payload (the differential
oracle and the no-image-libs fallback); ``"auto"`` (default) picks
pil when available, fake otherwise. The Spark-side contract — schema,
batch iteration, partitioning, UDF signature — is identical for both,
so swapping kernels changes no plan shape.

Independent of the kernel switch, netpbm payloads (P2/P3/P5/P6
PGM/PPM) ALWAYS decode for real via the pure-Python kernel
(``decode_netpbm``/``encode_netpbm``): pixel math — resize,
channel statistics, pixel-histogram features — runs in-container
with no image library, and ``q_multimodal_decode`` hash-gates the
full encode->decode->aggregate round-trip against a closed-form
oracle. Pillow remains the path for compressed formats (PNG/JPEG).

Scale notes: binary payloads ride as Parquet BYTE_ARRAY; keep them in
their own column family/table keyed by content hash so metadata-only
queries never scan blobs; ``spark.sql.files.maxPartitionBytes`` sizes
scan partitions so one batch of payloads fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # optional dependency: real image kernels when present
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # pragma: no cover - container has no PIL
    _PILImage = None

HAS_PIL = _PILImage is not None

META_SCHEMA = (
    "doc_id long, n_bytes long, format string, width int, height int, content_md5 string"
)


def _resolve_kernel(kernel: str) -> str:
    if kernel == "auto":
        return "pil" if HAS_PIL else "fake"
    if kernel == "pil" and not HAS_PIL:
        raise ImportError("kernel='pil' requested but Pillow is not installed")
    if kernel not in ("pil", "fake"):
        raise ValueError(f"unknown kernel {kernel!r}; use 'auto'|'pil'|'fake'")
    return kernel


def decode_image_meta(payload: bytes, kernel: str = "auto") -> dict:
    """Payload -> typed metadata. ``pil`` kernel reads the real
    format/dimensions (undecodable payloads get format=None and 0x0);
    ``fake`` derives deterministic values from the byte count — the
    oracle-reproducible path used when no image library exists."""
    import hashlib

    n = len(payload)
    if _resolve_kernel(kernel) == "pil":
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as im:
                fmt, w, h = (im.format or "").lower(), im.width, im.height
        except Exception:  # undecodable bytes: typed nulls, not a crash
            fmt, w, h = None, 0, 0
        return {"n_bytes": n, "format": fmt, "width": w, "height": h,
                "content_md5": hashlib.md5(payload).hexdigest()}
    return {
        "n_bytes": n,
        "format": ["png", "jpeg", "webp"][n % 3],
        "width": 64 + (n % 640),
        "height": 64 + ((n * 7) % 480),
        "content_md5": hashlib.md5(payload).hexdigest(),
    }


def decode_netpbm(payload: bytes):
    """Pure-Python netpbm decode: P2/P3 (ascii) and P5/P6 (binary)
    PGM/PPM -> (format, width, height, HxWx3 uint8 array), or None if
    the payload is not netpbm. Handles ``#`` comments, arbitrary
    header whitespace, and 2-byte samples (maxval > 255, big-endian
    per spec, rescaled to uint8). Grayscale broadcasts to 3 channels
    so every decoded image presents the RGB contract downstream
    kernels expect. Malformed/truncated netpbm raises ValueError —
    callers that want pass-through sniff the magic first."""
    import numpy as np

    if len(payload) < 2 or payload[0:1] != b"P" or \
            payload[1:2] not in b"2356":
        return None
    magic = payload[:2].decode("ascii")

    # header tokenizer: fields separated by whitespace, '#' to EOL is
    # a comment; after the LAST header field exactly one whitespace
    # byte precedes binary raster data (P5/P6)
    pos = 2
    fields = []
    n_fields = 3  # width height maxval
    while len(fields) < n_fields:
        while pos < len(payload) and payload[pos] in b" \t\r\n":
            pos += 1
        if pos < len(payload) and payload[pos] in b"#":
            while pos < len(payload) and payload[pos] not in b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos] not in b" \t\r\n#":
            pos += 1
        if pos == start:
            raise ValueError(f"netpbm {magic}: truncated header")
        try:
            fields.append(int(payload[start:pos]))
        except ValueError:
            raise ValueError(f"netpbm {magic}: bad header field "
                             f"{payload[start:pos]!r}") from None
    w, h, maxval = fields
    if w <= 0 or h <= 0 or not (0 < maxval < 65536):
        raise ValueError(f"netpbm {magic}: bad dimensions {w}x{h} "
                         f"maxval={maxval}")
    channels = 3 if magic in ("P3", "P6") else 1
    n_samples = w * h * channels

    if magic in ("P5", "P6"):
        # require the single whitespace byte after maxval — a '#'
        # here would silently shift the raster window onto comment
        # bytes (same guard as split_netpbm_stream)
        if pos >= len(payload) or payload[pos] not in b" \t\r\n":
            raise ValueError(f"netpbm {magic}: expected whitespace "
                             f"after maxval at byte {pos}")
        pos += 1
        wide = maxval > 255
        need = n_samples * (2 if wide else 1)
        raster = payload[pos:pos + need]
        if len(raster) < need:
            raise ValueError(f"netpbm {magic}: raster truncated "
                             f"({len(raster)}/{need} bytes)")
        dt = ">u2" if wide else np.uint8
        arr = np.frombuffer(raster, dtype=dt, count=n_samples)
    else:
        toks = payload[pos:].split()
        if len(toks) < n_samples:
            raise ValueError(f"netpbm {magic}: raster truncated "
                             f"({len(toks)}/{n_samples} samples)")
        arr = np.array([int(t) for t in toks[:n_samples]])
    if arr.max(initial=0) > maxval:
        raise ValueError(f"netpbm {magic}: sample exceeds maxval")
    if maxval != 255:  # rescale to the uint8 contract
        arr = (arr.astype(np.uint32) * 255 // maxval)
    arr = arr.astype(np.uint8).reshape(h, w, channels)
    if channels == 1:
        arr = np.repeat(arr, 3, axis=2)
    return ("ppm" if magic in ("P3", "P6") else "pgm", w, h, arr)


def encode_netpbm(arr) -> bytes:
    """HxWx3 uint8 array -> binary PPM (P6) bytes. The inverse of
    ``decode_netpbm`` for maxval=255 round-trips bit-exactly."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[0], a.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_image_pixels(payload: bytes):
    """Payload -> HxWxC uint8 pixel array. Netpbm payloads decode via
    the pure-Python kernel (always available); other formats need
    Pillow. Undecodable payloads raise ValueError."""
    decoded = decode_netpbm(payload)
    if decoded is not None:
        return decoded[3]
    if not HAS_PIL:
        raise ValueError(
            "payload is not netpbm and Pillow is not installed; "
            "only PGM/PPM decode without an image library")
    import io

    import numpy as np

    with _PILImage.open(io.BytesIO(payload)) as im:
        return np.asarray(im.convert("RGB"))


def extract_image_meta(df: DataFrame, id_col: str = "doc_id",
                       payload_col: str = "payload",
                       kernel: str = "auto") -> DataFrame:
    """Binary column -> typed metadata via mapInPandas (Arrow batches,
    one Python roundtrip per batch, not per row)."""
    kernel = _resolve_kernel(kernel)  # resolve driver-side: fail fast

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [decode_image_meta(p, kernel) for p in pdf[payload_col]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, schema=META_SCHEMA)


def resize_images(df: DataFrame, target_w: int = 224, target_h: int = 224,
                  id_col: str = "doc_id", payload_col: str = "payload",
                  kernel: str = "auto") -> DataFrame:
    """Resize: (doc_id, width, height, payload). The ``pil`` kernel
    decodes, ``Image.resize``s, and re-encodes PNG (undecodable
    payloads pass through untouched at 0x0); the ``fake`` kernel
    re-derives a payload slice sized proportionally to target area so
    downstream size-dependent logic stays exercisable without image
    libs. Plan shape (Arrow batches, one roundtrip per batch, binary
    in/out) is the production contract for both."""
    kernel = _resolve_kernel(kernel)

    def resize_one(p: bytes):
        if kernel == "pil":
            import io

            try:
                with _PILImage.open(io.BytesIO(p)) as im:
                    out = io.BytesIO()
                    im.convert("RGB").resize((target_w, target_h)) \
                      .save(out, format="PNG")
                    return target_w, target_h, out.getvalue()
            except Exception:
                return 0, 0, p
        if p[:2] in (b"P2", b"P3", b"P5", b"P6"):
            # real pixel math without Pillow: pure-Python netpbm decode,
            # nearest-neighbor resample via integer index maps, P6
            # re-encode — same contract as the PIL path
            import numpy as np

            try:
                _, w, h, arr = decode_netpbm(p)
            except ValueError:
                return 0, 0, p  # corrupt netpbm passes through like PIL's
            ys = (np.arange(target_h) * h) // target_h
            xs = (np.arange(target_w) * w) // target_w
            return target_w, target_h, encode_netpbm(arr[ys][:, xs])
        meta = decode_image_meta(p, kernel)
        scale = (target_w * target_h) / max(1, meta["width"] * meta["height"])
        n_out = max(1, int(len(p) * min(1.0, scale)))
        return target_w, target_h, p[:n_out]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = [(did, *resize_one(p))
                    for did, p in zip(pdf[id_col], pdf[payload_col])]
            yield pd.DataFrame(
                outs, columns=["doc_id", "width", "height", "payload"])

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, schema="doc_id long, width int, height int, payload binary")


def generate_ppm_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic P6 test-image producer: (id) -> (doc_id, payload)
    where payload is a binary PPM whose dimensions and pixels are a
    closed-form function of the id — ``w = 4 + id%5``, ``h = 3 +
    id%4``, ``channel c at (x, y) = (id*(c+1) + 7*y + 11*x) % 256``.
    An independent engine can recompute every derived statistic from
    the formula alone, so encode->decode->aggregate pipelines become
    exactly oracle-checkable without shipping image fixtures."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                w, h = 4 + did % 5, 3 + did % 4
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                arr = np.stack(
                    [(did * (c + 1) + 7 * y + 11 * x) % 256
                     for c in (0, 1, 2)], axis=2).astype(np.uint8)
                ids.append(did)
                payloads.append(encode_netpbm(arr))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        batches, schema="doc_id long, payload binary")


def generate_noise_ppm(df: DataFrame, id_col: str = "img_id",
                       base_col: str = "base_id",
                       patch_col: str | None = "patched",
                       w: int = 12, h: int = 9) -> DataFrame:
    """Deterministic NOISE-image producer for perceptual-hash tests:
    pixel ``(c, y, x) = (((base+1) * (c*7 + y*13 + x*29 + 101) *
    2654435761) mod 2^32 >> 13) mod 256`` — multiplicative hashing, so
    distinct base ids give near-random pixels (median pairwise dHash
    distance ~31 bits) instead of the pure gradients of
    ``generate_ppm_payloads`` (whose adjacent-pixel ordering is
    constant, collapsing every image to ONE dHash). Rows with
    ``patch_col`` true get ``+80 mod 256`` on the top-left 3x3 patch —
    a localized edit that lands the clone a few dHash bits from its
    base (measured spread 0-7 bits). Output: (id, payload) as binary
    P6."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            patched = pdf[patch_col] if patch_col else [False] * len(pdf)
            for iid, base, pat in zip(pdf[id_col], pdf[base_col], patched):
                y = np.arange(h)[:, None, None]
                x = np.arange(w)[None, :, None]
                c = np.arange(3)[None, None, :]
                v = ((int(base) + 1) * (c * 7 + y * 13 + x * 29 + 101)
                     * 2654435761) % (1 << 32)
                arr = ((v >> 13) % 256).astype(np.int64)
                if bool(pat):
                    arr[0:3, 0:3, :] = (arr[0:3, 0:3, :] + 80) % 256
                ids.append(int(iid))
                payloads.append(encode_netpbm(arr.astype(np.uint8)))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    cols = [F.col(id_col), F.col(base_col)]
    if patch_col:
        cols.append(F.col(patch_col))
    return df.select(*cols).mapInPandas(
        batches, schema=f"{id_col} long, payload binary")


def dhash63(df: DataFrame, id_col: str = "doc_id",
            payload_col: str = "payload") -> DataFrame:
    """Perceptual difference hash (dHash, Krawetz 2013) over REAL
    decoded pixels: grayscale (integer mean of RGB), nearest-neighbor
    resample to a 9x8 grid (same integer index maps as
    ``resize_images``), then bit k = 1 iff grid[y][x] > grid[y][x+1]
    row-major — 8 rows x 8 column diffs = 64 bits, of which the FIRST
    63 are kept so the hash is a non-negative signed BIGINT (the same
    <=63-bit contract as ``simhash_fingerprints``: both engines can
    do shift/xor/bit_count on it without unsigned types). Brightness
    and contrast shifts that preserve pixel ordering preserve the
    hash; near-identical images land within a few bits.

    Arrow-batch kernel (one Python roundtrip per batch, no per-row
    UDF); undecodable/non-netpbm payloads produce no row, like the
    other image kernels. Output: (id, dhash)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    decoded = decode_netpbm(bytes(p))
                except ValueError:
                    decoded = None
                if decoded is None:
                    continue
                _, w, h, arr = decoded
                gray = arr.astype(np.uint32).sum(axis=2) // 3
                ys = (np.arange(8) * h) // 8
                xs = (np.arange(9) * w) // 9
                g = gray[ys][:, xs]
                bits = (g[:, :-1] > g[:, 1:]).flatten()[:63]
                v = 0
                for b in bits:
                    v = (v << 1) | int(b)
                ids.append(int(did))
                hashes.append(v)
            yield pd.DataFrame({id_col: ids, "dhash": hashes})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, schema=f"{id_col} long, dhash long")


def image_channel_stats(df: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "payload") -> DataFrame:
    """Real pixel math over decoded images: per-image dimensions and
    integer-ppm channel means ``sum(channel) * 1_000_000 // (w*h)``
    (integer arithmetic end to end — hash-stable across engines).
    Netpbm decodes via the pure-Python kernel; other formats via
    Pillow when present. Undecodable payloads yield typed nulls."""
    import numpy as np

    def stats_one(did: int, p: bytes):
        try:
            arr = decode_image_pixels(p)
        except (ValueError, OSError):  # not an image / truncated / no lib
            return (did, None, None, None, None, None, None)
        dec = decode_netpbm(p)
        fmt = dec[0] if dec is not None else "other"
        h, w = arr.shape[0], arr.shape[1]
        sums = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        n = w * h
        return (did, fmt, w, h,
                int(sums[0]) * 1_000_000 // n,
                int(sums[1]) * 1_000_000 // n,
                int(sums[2]) * 1_000_000 // n)

    cols = ["doc_id", "format", "width", "height",
            "mean_r_ppm", "mean_g_ppm", "mean_b_ppm"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [stats_one(int(d), p)
                 for d, p in zip(pdf[id_col], pdf[payload_col])],
                columns=cols)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches,
        schema="doc_id long, format string, width int, height int, "
               "mean_r_ppm long, mean_g_ppm long, mean_b_ppm long")


def extract_image_features(df: DataFrame, dim: int = 16,
                           id_col: str = "doc_id",
                           payload_col: str = "payload") -> DataFrame:
    """Feature-extraction plumbing: binary -> float vector
    (array<double>), the shape an image-embedding model (CLIP/CNN)
    produces. The kernel is a deterministic fake — md5-seeded byte
    histogram projection — so the output feeds the ANN/similarity
    operators (cosine_topk, lsh_topk, ivf_topk) for end-to-end
    multimodal-retrieval pipelines without an ML runtime. The exact
    ``cosine_topk`` collects its query vectors (max_queries·D·8 bytes
    on the driver and in the broadcast) and scores items within a
    fixed cell budget per task."""
    import hashlib

    import numpy as np

    def embed_one(p: bytes):
        if p[:2] in (b"P2", b"P3", b"P5", b"P6"):
            try:  # real pixel math when the payload is a decodable image
                pix = decode_netpbm(p)[3]
                v = np.bincount(pix.ravel() % dim,
                                minlength=dim).astype("float64")
                n = np.linalg.norm(v)
                return (v / n if n else v).tolist()
            except ValueError:
                pass  # netpbm-looking text: fall through to the fake
        seed = int.from_bytes(hashlib.md5(p).digest()[:4], "big")
        arr = np.frombuffer(p, dtype=np.uint8)
        hist = np.bincount(arr % dim, minlength=dim).astype("float64")
        rng = np.random.default_rng(seed)
        v = hist + rng.standard_normal(dim) * 0.01
        n = np.linalg.norm(v)
        return (v / n if n else v).tolist()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": [did for did in pdf[id_col]],
                "embedding": [embed_one(p) for p in pdf[payload_col]],
            })

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, schema="doc_id long, embedding array<double>")


# -- audio modality: WAV/PCM as opaque binary ------------------------------

def encode_wav_pcm8(samples, sample_rate: int = 8000) -> bytes:
    """Minimal canonical-header WAV writer: RIFF/WAVE with one
    ``fmt `` (PCM, mono, 8-bit) and one ``data`` chunk. Pure struct
    packing — the audio twin of ``encode_netpbm``."""
    import struct

    data = bytes(int(s) & 0xFF for s in samples)
    n = len(data)
    hdr = (b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                   sample_rate, 1, 8)
           + b"data" + struct.pack("<I", n))
    return hdr + data


def decode_wav(payload: bytes):
    """Pure-Python WAV decode: walk RIFF chunks (tolerating extra
    chunks like LIST/INFO and the spec's odd-length padding byte),
    read ``fmt `` and ``data``, and return (sample_rate, n_channels,
    bits_per_sample, uint8-sample list). Returns None when the magic
    is not RIFF/WAVE; raises ValueError on truncated or non-PCM
    payloads — same error contract as ``decode_netpbm``."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (sz,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + sz]
        if len(body) < sz:
            raise ValueError("wav: truncated chunk " + repr(cid))
        if cid == b"fmt ":
            if sz < 16:
                raise ValueError("wav: short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned per spec
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    audio_fmt, n_ch, rate, _byte_rate, _align, bits = fmt
    if audio_fmt != 1 or bits != 8:
        raise ValueError(f"wav: unsupported fmt={audio_fmt} bits={bits}")
    return rate, n_ch, bits, list(data)


def generate_wav_payloads(df: DataFrame, id_col: str = "doc_id",
                          sample_rate: int = 8000) -> DataFrame:
    """Deterministic PCM test-audio producer (the audio twin of
    ``generate_ppm_payloads``): ``n = 64 + id % 129`` samples with
    ``sample[t] = (id*5 + t*13) % 256`` — every derived statistic is
    recomputable from the formula alone, so encode->decode->feature
    pipelines are exactly oracle-checkable without audio fixtures."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                n = 64 + did % 129
                samples = [(did * 5 + t * 13) % 256 for t in range(n)]
                ids.append(did)
                payloads.append(encode_wav_pcm8(samples, sample_rate))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        batches, schema="doc_id long, payload binary")


def audio_features(df: DataFrame, id_col: str = "doc_id",
                   payload_col: str = "payload") -> DataFrame:
    """Real signal math over decoded PCM: per-clip sample count,
    integer mean-energy ppm ``sum((s-128)^2) * 1_000_000 // n``,
    zero-crossing count (sign of s-128, >= 0 counts positive), and
    peak deviation — all integer arithmetic, hash-stable on any
    engine. Undecodable payloads yield typed nulls. Runs as an
    Arrow-batched ``mapInPandas`` over the binary column, the same
    batch shape a real feature extractor (mel spectrogram) uses."""
    def feats_one(did: int, p: bytes):
        try:
            dec = decode_wav(p)
        except ValueError:
            dec = None
        if dec is None:
            return (did, None, None, None, None, None)
        rate, _ch, _bits, samples = dec
        n = len(samples)
        if n == 0:
            return (did, rate, 0, None, None, None)
        dev = [s - 128 for s in samples]
        energy = sum(d * d for d in dev)
        sgn = [1 if d >= 0 else 0 for d in dev]
        zc = sum(1 for i in range(1, n) if sgn[i] != sgn[i - 1])
        return (did, rate, n, energy * 1_000_000 // n, zc,
                max(abs(d) for d in dev))

    cols = ["doc_id", "sample_rate", "n_samples", "energy_ppm",
            "zero_crossings", "peak_dev"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [feats_one(int(d), p)
                 for d, p in zip(pdf[id_col], pdf[payload_col])],
                columns=cols)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches,
        schema="doc_id long, sample_rate int, n_samples long, "
               "energy_ppm long, zero_crossings long, peak_dev int")


def generate_noise_wav(df: DataFrame, id_col: str = "aud_id",
                       base_col: str = "base_id",
                       perturb_col: str | None = "perturbed",
                       n_samples: int = 512) -> DataFrame:
    """Deterministic NOISE-audio producer for perceptual-fingerprint
    tests (the audio twin of ``generate_noise_ppm``): ``sample[t] =
    (((base+1) * (t*29 + 101)) * 2654435761 mod 2^32 >> 13) mod 256``
    — multiplicative hashing gives distinct base ids near-random
    energy envelopes, so fingerprints spread instead of collapsing.
    Rows with ``perturb_col`` true get ``+8 mod 256`` on samples
    ``t < 16`` — a localized edit confined to the first two energy
    windows, landing the clone 0-2 fingerprint bits from its base.
    Output: (id, payload) as canonical 8-bit PCM WAV."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            pert = pdf[perturb_col] if perturb_col else [False] * len(pdf)
            for aid, base, p in zip(pdf[id_col], pdf[base_col], pert):
                t = np.arange(n_samples, dtype=np.int64)
                v = (((int(base) + 1) * (t * 29 + 101))
                     * 2654435761) % (1 << 32)
                s = ((v >> 13) % 256).astype(np.int64)
                if bool(p):
                    s[:16] = (s[:16] + 8) % 256
                ids.append(int(aid))
                payloads.append(encode_wav_pcm8(s.tolist()))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    cols = [F.col(id_col), F.col(base_col)]
    if perturb_col:
        cols.append(F.col(perturb_col))
    return df.select(*cols).mapInPandas(
        batches, schema=f"{id_col} long, payload binary")


def audio_fingerprint63(df: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "payload") -> DataFrame:
    """Perceptual audio fingerprint — the temporal analog of
    ``dhash63``: decode PCM, split the clip into 64 contiguous windows
    (integer boundaries ``(k*n)//64``, same index map as the dHash
    grid), compute each window's integer energy ``sum((s-128)^2)``,
    then bit k = 1 iff ``energy[k] > energy[k+1]`` — 63 bits, kept as
    a non-negative signed BIGINT under the same <=63-bit contract as
    the image/text fingerprints, so the SAME banding/hamming dedup
    core applies unchanged. Volume scaling that preserves the energy
    ordering preserves the fingerprint; a localized edit flips only
    the bits whose windows it touches.

    Arrow-batch kernel; undecodable payloads and clips shorter than
    64 samples produce no row (a 63-bit hash over near-empty windows
    is noise, not signal). Output: (id, afp)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fps = [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    dec = decode_wav(bytes(p))
                except ValueError:
                    dec = None
                if dec is None:
                    continue
                _rate, _ch, _bits, samples = dec
                n = len(samples)
                if n < 64:
                    continue
                dev = np.asarray(samples, dtype=np.int64) - 128
                sq = dev * dev
                bounds = (np.arange(65) * n) // 64
                csum = np.concatenate(([0], np.cumsum(sq)))
                e = csum[bounds[1:]] - csum[bounds[:-1]]
                bits = e[:-1] > e[1:]
                v = 0
                for b in bits:
                    v = (v << 1) | int(b)
                ids.append(int(did))
                fps.append(v)
            yield pd.DataFrame({id_col: ids, "afp": fps})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches, schema=f"{id_col} long, afp long")


# -- video modality: concatenated netpbm frames --------------------------

def split_netpbm_stream(payload: bytes) -> list:
    """Walk a stream of CONCATENATED binary netpbm frames (P5/P6) and
    return the list of per-frame byte slices — the container-free
    "video" framing the frame-sampler consumes (a real deployment
    hands compressed containers to ffmpeg; raw netpbm streams are
    exactly what e.g. ffmpeg's image2pipe produces). Returns None if
    the payload does not start with a binary netpbm magic; raises
    ValueError on a malformed or truncated frame mid-stream."""
    if len(payload) < 2 or payload[0:1] != b"P" or \
            payload[1:2] not in b"56":
        return None
    frames = []
    pos = 0
    while pos < len(payload):
        if payload[pos:pos + 1] != b"P" or \
                payload[pos + 1:pos + 2] not in b"56":
            raise ValueError(
                f"netpbm stream: bad frame magic at byte {pos}")
        # header tokenizer (same grammar as decode_netpbm): three int
        # fields with whitespace/comments, then ONE whitespace byte,
        # then the raster
        p = pos + 2
        fields = []
        while len(fields) < 3:
            while p < len(payload) and payload[p] in b" \t\r\n":
                p += 1
            if p < len(payload) and payload[p] in b"#":
                while p < len(payload) and payload[p] not in b"\n":
                    p += 1
                continue
            start = p
            while p < len(payload) and payload[p] not in b" \t\r\n#":
                p += 1
            if p == start:
                raise ValueError("netpbm stream: truncated header")
            fields.append(int(payload[start:p]))
        w, h, maxval = fields
        # the byte after the maxval token must be the single
        # whitespace that separates header from raster — a '#' here
        # (comment-terminated third field) would otherwise be
        # consumed as that separator and the comment bytes read as
        # raster, yielding a silently corrupt frame slice
        if p >= len(payload) or payload[p] not in b" \t\r\n":
            raise ValueError(
                f"netpbm stream: expected whitespace after maxval "
                f"at byte {p}")
        channels = 3 if payload[pos + 1:pos + 2] == b"6" else 1
        need = w * h * channels * (2 if maxval > 255 else 1)
        end = p + 1 + need
        if end > len(payload):
            raise ValueError(
                f"netpbm stream: frame raster truncated at byte {pos}")
        frames.append(payload[pos:end])
        pos = end
    return frames


def generate_video_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic test-video producer: ``n_frames = 3 + id % 6``
    concatenated P6 frames, frame f sized ``(4 + (id+f) % 5) x (3 +
    (id+f) % 4)`` with ``channel c at (x, y) = (id*(c+1) + 13*f + 7*y
    + 11*x) % 256`` — the video twin of ``generate_ppm_payloads``,
    closed-form so sampled-frame statistics are oracle-checkable."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                chunks = []
                for f in range(3 + did % 6):
                    w, h = 4 + (did + f) % 5, 3 + (did + f) % 4
                    y = np.arange(h)[:, None]
                    x = np.arange(w)[None, :]
                    arr = np.stack(
                        [(did * (c + 1) + 13 * f + 7 * y + 11 * x) % 256
                         for c in (0, 1, 2)], axis=2).astype(np.uint8)
                    chunks.append(encode_netpbm(arr))
                ids.append(did)
                payloads.append(b"".join(chunks))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        batches, schema="doc_id long, payload binary")


def generate_noise_video(df: DataFrame, id_col: str = "vid_id",
                         base_col: str = "base_id",
                         edit_col: str | None = "edited",
                         n_frames: int = 4,
                         w: int = 12, h: int = 9) -> DataFrame:
    """Deterministic NOISE-video producer for per-frame perceptual
    dedup tests: ``n_frames`` concatenated P6 frames, pixel
    ``(f, c, y, x) = (((base+1) * (c*7 + y*13 + x*29 + f*37 + 101) *
    2654435761) mod 2^32 >> 13) mod 256`` — the frame index enters the
    multiplicative hash, so each frame of a video is an independent
    noise image while two videos with the same base are identical
    frame-for-frame. Rows with ``edit_col`` true get ``+80 mod 256``
    on frame 0's top-left 3x3 patch (a re-encode artifact: frame 0
    lands a few dHash bits off, frames 1.. stay exact). Output:
    (id, payload) as a concatenated-netpbm stream."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads = [], []
            edited = pdf[edit_col] if edit_col else [False] * len(pdf)
            for vid, base, ed in zip(pdf[id_col], pdf[base_col], edited):
                chunks = []
                y = np.arange(h)[:, None, None]
                x = np.arange(w)[None, :, None]
                c = np.arange(3)[None, None, :]
                for f in range(n_frames):
                    v = ((int(base) + 1)
                         * (c * 7 + y * 13 + x * 29 + f * 37 + 101)
                         * 2654435761) % (1 << 32)
                    arr = ((v >> 13) % 256).astype(np.int64)
                    if bool(ed) and f == 0:
                        arr[0:3, 0:3, :] = (arr[0:3, 0:3, :] + 80) % 256
                    chunks.append(encode_netpbm(arr.astype(np.uint8)))
                ids.append(int(vid))
                payloads.append(b"".join(chunks))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    cols = [F.col(id_col), F.col(base_col)]
    if edit_col:
        cols.append(F.col(edit_col))
    return df.select(*cols).mapInPandas(
        batches, schema=f"{id_col} long, payload binary")


def sample_video_frames(df: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "payload",
                        every_n: int = 2) -> DataFrame:
    """REAL frame sampling: parse the concatenated-netpbm stream into
    frames by walking the actual headers (``split_netpbm_stream``)
    and emit every ``every_n``-th frame as its own payload row —
    (doc_id, frame_index, frame_payload). Unparseable payloads yield
    no rows (same skip contract as an undecodable image). Compressed
    containers (mp4 etc.) belong to an ffmpeg-equipped deployment;
    the Spark-side contract — batch iteration, schema, per-frame
    payload rows — is identical."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    frames = split_netpbm_stream(bytes(p))
                except ValueError:
                    frames = None
                if frames is None:
                    continue
                for i in range(0, len(frames), every_n):
                    rows.append((int(did), i, frames[i]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_index", "frame_payload"])

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        batches,
        schema="doc_id long, frame_index int, frame_payload binary")
