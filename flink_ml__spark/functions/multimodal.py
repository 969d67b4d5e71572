"""Multimodal (image/audio/video) column operators for training-data
pipelines (BASELINE.json north-star; beyond the reference's surface).

Design: media payloads are opaque ``binary`` columns with typed metadata
alongside; every operator is engineered for the 100 TB shape —

* metadata extraction (size, content hash, magic-byte sniffing) is pure
  codegen over the binary column: no decode, no Python, prunes to the
  bytes column only;
* decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` so each partition streams through Python once with
  vectorized numpy per batch — the layout that scales horizontally; the
  CODECS are stubbed (this container ships no image/audio libraries):
  ``decoder="fake"`` derives deterministic pixels/samples from the
  payload hash (stable contract for tests and plumbing), while
  ``decoder="pil"`` (images, Pillow), ``decoder="soundfile"`` (audio)
  and ``decoder="pyav"`` (video, ffmpeg bindings) dispatch to the real
  library when importable and raise ``NotImplementedError`` when it is
  absent — never a silent fallback to hash noise. The Spark-side
  plumbing — schema, batch shape, partitioning, UDF signatures — is
  real and tested either way.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator

# magic prefixes → format tag, checked in order (longest first)
_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),      # wav/avi/webp share the RIFF container
    (b"fLaC", "flac"),
    (b"OggS", "ogg"),
    (b"\x00\x00\x00", "mp4"),
    (b"ID3", "mp3"),
]


class HasBinaryCol(Params):
    binaryCol = Param(Params._dummy(), "binaryCol",
                      "opaque binary payload column",
                      typeConverter=TypeConverters.toString)

    _defaults = dict(binaryCol="payload")


class HasDecoder(Params):
    decoder = Param(Params._dummy(), "decoder",
                    "codec backend: 'fake' (deterministic stub), a "
                    "dependency-free real format ('ppm' binary netpbm, "
                    "'wav' stdlib RIFF PCM), or a real library name "
                    "('pil', 'soundfile') if importable",
                    typeConverter=TypeConverters.toString)

    _defaults = dict(decoder="fake")


def _load_real_decoder(name: str, modules: dict[str, str]):
    """Import-guarded real-codec dispatch: returns the imported library
    for a known decoder name, or raises ``NotImplementedError`` when it
    is absent. NEVER falls back to the fake decoder — that would
    silently emit hash noise labeled as decoded media. The driver-side
    import check fails fast at plan-build time; workers re-import by
    name inside the UDF."""
    import importlib

    mod = modules.get(name)
    if mod is None:
        raise ValueError(f"unknown decoder '{name}'")
    try:
        return importlib.import_module(mod)
    except ImportError as e:
        raise NotImplementedError(
            f"decoder '{name}' requires library '{mod}', which is not "
            "installed; use decoder='fake' for the deterministic stub"
        ) from e


def _make_codecs():
    """Deterministic/stdlib codecs built as NESTED functions so UDF
    closures capture them by VALUE: a module-level function referenced
    from a ``mapInPandas`` closure is pickled by reference, and every
    fresh Python worker then imports this module's whole package chain
    (~0.9 s measured) before its first batch. Nested (``<locals>``)
    functions ship as bytecode instead; the worker needs only the
    numpy/hashlib it already has loaded (guide §4.5)."""

    def fake_pixels(payload: bytes, height: int, width: int) -> np.ndarray:
        """Deterministic stand-in decode: a (height, width) uint8 grayscale
        image derived from the payload's sha256 keystream. Stable across
        runs/partitions — the contract tests and plumbing rely on.

        The keystream is chained in the HEX-STRING domain
        (``sha256(seed_hex + ':' + i)``), not over raw digest bytes: SQL
        engines expose only VARCHAR sha256, so this choice is what lets the
        DuckDB oracles replay decoded-image/audio statistics byte-for-byte
        when the payload itself is valid text."""
        need = height * width
        out = np.empty(need, dtype=np.uint8)
        seed_hex = hashlib.sha256(payload or b"").hexdigest()
        filled = 0
        counter = 0
        while filled < need:
            block = hashlib.sha256(
                f"{seed_hex}:{counter}".encode("ascii")).digest()
            take = min(32, need - filled)
            out[filled:filled + take] = np.frombuffer(block[:take], dtype=np.uint8)
            filled += take
            counter += 1
        return out.reshape(height, width)


    def fake_samples(payload: bytes, n: int) -> np.ndarray:
        """Deterministic stand-in PCM decode: n float samples in [-1, 1)."""
        raw = fake_pixels(payload, 1, n).ravel().astype(np.float64)
        return (raw - 128.0) / 128.0


    def decode_wav_bytes(payload: bytes) -> np.ndarray:
        """REAL audio decode for RIFF/WAVE PCM via the stdlib ``wave``
        module — no third-party codec needed, so the real-bytes path is
        exercisable even where soundfile/libsndfile is absent. Returns
        mono-folded float64 samples scaled to [-1, 1] (8-bit unsigned,
        16/32-bit signed PCM). Non-PCM (e.g. float/IEEE, compressed) WAVs
        raise — soundfile handles those via ``decoder='soundfile'``."""
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            nch, sw, _rate, nframes = (w.getnchannels(), w.getsampwidth(),
                                       w.getframerate(), w.getnframes())
            raw = w.readframes(nframes)
        if sw == 1:  # unsigned 8-bit
            s = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                 - 128.0) / 128.0
        elif sw == 2:
            s = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif sw == 4:
            s = np.frombuffer(raw, dtype="<i4").astype(np.float64) \
                / 2147483648.0
        else:
            raise ValueError(f"unsupported WAV sample width {sw}")
        if nch > 1:
            s = s[: (len(s) // nch) * nch].reshape(-1, nch).mean(axis=1)
        return s


    def decode_ppm_bytes(payload: bytes) -> np.ndarray:
        """REAL image decode for binary netpbm (P5 grayscale / P6 RGB,
        maxval <= 255) in pure numpy — a public uncompressed format that
        keeps the real-image path testable without Pillow. RGB folds to
        grayscale with the same ITU-R 601-2 luma weights PIL's
        ``convert('L')`` uses, so 'ppm' and 'pil' agree on netpbm inputs.
        Returns a (height, width) uint8 array."""
        if not payload[:2] in (b"P5", b"P6"):
            raise ValueError("not a binary PGM/PPM payload")
        # header: magic, width, height, maxval — '#' comments allowed
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(payload) and payload[pos:pos + 1].isspace():
                pos += 1
            if payload[pos:pos + 1] == b"#":
                pos = payload.index(b"\n", pos) + 1
                continue
            end = pos
            while end < len(payload) and not payload[end:end + 1].isspace():
                end += 1
            fields.append(int(payload[pos:end]))
            pos = end
        pos += 1  # single whitespace after maxval
        width, height, maxval = fields
        if maxval > 255:
            raise ValueError("2-byte netpbm samples not supported; "
                             "use decoder='pil'")
        ch = 1 if payload[:2] == b"P5" else 3
        px = np.frombuffer(payload, dtype=np.uint8, count=width * height * ch,
                           offset=pos)
        if ch == 3:
            rgb = px.reshape(height, width, 3).astype(np.uint32)
            px = ((rgb[..., 0] * 299 + rgb[..., 1] * 587
                   + rgb[..., 2] * 114) // 1000).astype(np.uint8)
        return px.reshape(height, width)


    def _nearest_resize(img: np.ndarray, h: int, w: int) -> np.ndarray:
        """Nearest-neighbour resample of a 2-D array to (h, w) — the same
        sample-point convention PIL's NEAREST uses (pixel centers)."""
        sh, sw = img.shape
        rows = np.minimum((np.arange(h) + 0.5) * sh / h, sh - 1).astype(int)
        cols = np.minimum((np.arange(w) + 0.5) * sw / w, sw - 1).astype(int)
        return img[rows][:, cols]
    return (fake_pixels, fake_samples, decode_wav_bytes,
            decode_ppm_bytes, _nearest_resize)


# public module API unchanged; the names bind closure-qualified
# functions that UDF closures can capture without a worker-side import
(fake_pixels, fake_samples, decode_wav_bytes,
 decode_ppm_bytes, _nearest_resize) = _make_codecs()



def _passthrough_schema(df, extra: list[str],
                        exclude: tuple = ()) -> str:
    """mapInPandas schema string: the input fields (minus ``exclude``
    — names the operator regenerates, which would otherwise duplicate)
    plus the operator's appended columns."""
    keep = [f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields if f.name not in exclude]
    return ", ".join(keep + extra)


class BinaryMetadataExtractor(AlgoOperator, HasBinaryCol):
    """Typed metadata from the raw payload — NO decode, pure codegen:
    appends ``size_bytes``, ``content_md5``, ``format`` (magic-byte
    sniff). The scan prunes to the binary column; at 100 TB this is the
    only full-data pass a triage pipeline needs."""

    def transform(self, df: DataFrame) -> DataFrame:
        b = F.col(self.getBinaryCol())
        fmt = F.lit("unknown")
        for magic, tag in reversed(_MAGIC):
            hexs = magic.hex()
            fmt = F.when(
                F.hex(F.substring(b, 1, len(magic))) == hexs.upper(),
                F.lit(tag)).otherwise(fmt)
        return (df
                .withColumn("size_bytes", F.length(b).cast("long"))
                .withColumn("content_md5", F.md5(b))
                .withColumn("format", fmt))


class ImageDecoder(AlgoOperator, HasBinaryCol, HasDecoder):
    """binary → decoded grayscale image as (height, width,
    pixels array<int>) via ``mapInPandas``. ``decoder='fake'`` is the
    deterministic stub; ``decoder='pil'`` requires Pillow."""

    height = Param(Params._dummy(), "height", "decode height",
                   typeConverter=TypeConverters.toInt)
    width = Param(Params._dummy(), "width", "decode width",
                  typeConverter=TypeConverters.toInt)

    _defaults = dict(height=16, width=16)

    def transform(self, df: DataFrame) -> DataFrame:
        dec = self.getDecoder()
        if dec not in ("fake", "ppm"):
            # fail fast on the driver; workers re-import by name below
            # ('ppm' is pure numpy — nothing to import)
            _load_real_decoder(dec, {"pil": "PIL.Image"})
        bcol = self.getBinaryCol()
        h, w = self.getHeight(), self.getWidth()
        schema = _passthrough_schema(
            df, ["height int", "width int", "pixels array<int>"],
            exclude=("height", "width", "pixels"))

        def decode(batches):
            if dec == "fake":
                def px(p):
                    return fake_pixels(
                        bytes(p) if p is not None else b"", h, w) \
                        .ravel().astype("int64").tolist()
            elif dec == "ppm":
                def px(p):
                    # real decode, no library: binary netpbm →
                    # grayscale + nearest resize; NULL payload → NULL
                    if p is None:
                        return None
                    img = decode_ppm_bytes(bytes(p))
                    return (_nearest_resize(img, h, w)
                            .ravel().astype("int64").tolist())
            else:
                import io

                from PIL import Image

                def px(p):
                    # real decode: grayscale + nearest resize to the
                    # declared shape; NULL payload → NULL pixels
                    if p is None:
                        return None
                    img = (Image.open(io.BytesIO(bytes(p)))
                           .convert("L").resize((w, h)))
                    return (np.asarray(img, dtype=np.uint8)
                            .ravel().astype("int64").tolist())

            for pdf in batches:
                pdf = pdf.copy()
                pdf["height"] = h
                pdf["width"] = w
                pdf["pixels"] = [px(p) for p in pdf[bcol]]
                yield pdf

        from flink_ml__spark.base import ensure_min_parallelism

        # decode is the heavy Python stage and sets the partitioning the
        # resize/stats stages inherit — spread few-split sources here
        return ensure_min_parallelism(df).mapInPandas(decode, schema)


class ImageResizer(AlgoOperator):
    """Nearest-neighbor resize of a decoded (height,width,pixels) table —
    real numpy math over Arrow batches (no codec involved)."""

    targetHeight = Param(Params._dummy(), "targetHeight", "output height",
                         typeConverter=TypeConverters.toInt)
    targetWidth = Param(Params._dummy(), "targetWidth", "output width",
                        typeConverter=TypeConverters.toInt)

    _defaults = dict(targetHeight=8, targetWidth=8)

    def transform(self, df: DataFrame) -> DataFrame:
        th = self.getOrDefault(self.targetHeight)
        tw = self.getOrDefault(self.targetWidth)
        schema = _passthrough_schema(
            df, ["height int", "width int", "pixels array<int>"],
            exclude=("height", "width", "pixels"))

        def resize(batches):
            for pdf in batches:
                rows = []
                for _, r in pdf.iterrows():
                    if r["pixels"] is None:
                        # the real decoder emits NULL pixels for NULL
                        # payloads — propagate rather than crash
                        rows.append(None)
                        continue
                    img = np.asarray(r["pixels"]).reshape(
                        r["height"], r["width"])
                    yi = (np.arange(th) * r["height"]) // th
                    xi = (np.arange(tw) * r["width"]) // tw
                    rows.append(img[np.ix_(yi, xi)].ravel().tolist())
                out = pdf.drop(columns=["height", "width", "pixels"]).copy()
                out["height"] = th
                out["width"] = tw
                out["pixels"] = rows
                yield out

        return df.mapInPandas(resize, schema)


class ImageStats(AlgoOperator):
    """Per-image feature vector from a decoded table: mean/std/min/max
    pixel intensity — vectorized numpy per batch."""

    def transform(self, df: DataFrame) -> DataFrame:
        schema = _passthrough_schema(
            df, ["px_mean double", "px_std double",
                 "px_min int", "px_max int"],
            exclude=("px_mean", "px_std", "px_min", "px_max"))

        def stats(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf.copy()
                # NULL pixels (real decoder's NULL-payload contract)
                # yield NULL stats instead of crashing np.stack
                valid = pdf["pixels"].notna().to_numpy()
                mean = np.full(len(pdf), np.nan)
                std = np.full(len(pdf), np.nan)
                mn = np.full(len(pdf), np.nan)
                mx = np.full(len(pdf), np.nan)
                if valid.any():
                    mat = np.stack([
                        np.asarray(p, dtype=np.float64)
                        for p in pdf["pixels"][valid]])
                    mean[valid] = mat.mean(1)
                    std[valid] = mat.std(1)
                    mn[valid] = mat.min(1)
                    mx[valid] = mat.max(1)
                pdf["px_mean"] = [None if np.isnan(v) else float(v)
                                  for v in mean]
                pdf["px_std"] = [None if np.isnan(v) else float(v)
                                 for v in std]
                pdf["px_min"] = pd.array(
                    [None if np.isnan(v) else int(v) for v in mn],
                    dtype="Int64")
                pdf["px_max"] = pd.array(
                    [None if np.isnan(v) else int(v) for v in mx],
                    dtype="Int64")
                yield pdf

        return df.mapInPandas(stats, schema)


class FrameSampler(AlgoOperator, HasBinaryCol, HasDecoder):
    """'Video' payload → every ``stride``-th frame decoded to a
    per-frame mean-intensity feature: (frame_index, frame_mean) rows,
    one per sampled frame — the explode-shaped output a frame-level
    training pipeline consumes. ``decoder='fake'`` is the deterministic
    stub; ``decoder='pyav'`` demuxes real containers (requires the
    ``av`` ffmpeg bindings)."""

    frameBytes = Param(Params._dummy(), "frameBytes",
                       "payload bytes per notional frame",
                       typeConverter=TypeConverters.toInt)
    stride = Param(Params._dummy(), "stride", "sample every n-th frame",
                   typeConverter=TypeConverters.toInt)

    _defaults = dict(frameBytes=256, stride=2)

    def transform(self, df: DataFrame) -> DataFrame:
        dec = self.getDecoder()
        if dec != "fake":
            # fail fast on the driver; workers re-import by name below.
            # The real video branch demuxes with PyAV (ffmpeg bindings)
            # — refusing when it is absent beats emitting hash noise
            # labeled as decoded frames.
            _load_real_decoder(dec, {"pyav": "av"})
        bcol = self.getBinaryCol()
        fb = self.getOrDefault(self.frameBytes)
        stride = self.getOrDefault(self.stride)
        schema = _passthrough_schema(
            df, ["frame_index int", "frame_mean double"],
            exclude=("frame_index", "frame_mean"))

        def sample(batches):
            if dec == "fake":
                def frames_of(payload):
                    n_frames = max(len(payload) // fb, 1)
                    for i in range(0, n_frames, stride):
                        chunk = payload[i * fb:(i + 1) * fb]
                        px = fake_pixels(chunk, 1, 64).astype(np.float64)
                        yield i, float(px.mean())
            else:
                import io

                import av

                def frames_of(payload):
                    # real demux+decode: every stride-th video frame's
                    # grayscale mean — same (frame_index, frame_mean)
                    # contract as the stub
                    with av.open(io.BytesIO(payload)) as container:
                        for i, frame in enumerate(
                                container.decode(video=0)):
                            if i % stride:
                                continue
                            arr = frame.to_ndarray(format="gray")
                            yield i, float(arr.mean())

            for pdf in batches:
                frames = []
                for _, r in pdf.iterrows():
                    if r[bcol] is None:
                        # NULL payload → no frames (matches the oracle,
                        # whose WHERE predicate is NULL on NULL input)
                        continue
                    for i, mean in frames_of(bytes(r[bcol])):
                        row = dict(r)
                        row["frame_index"] = i
                        row["frame_mean"] = mean
                        frames.append(row)
                yield (pd.DataFrame(frames) if frames
                       else pd.DataFrame(columns=list(pdf.columns)
                                         + ["frame_index", "frame_mean"]))

        # no repartition: measured neutral at sf0.1 — the payload
        # shuffle costs what the extra parallelism buys back
        return df.mapInPandas(sample, schema)


class SceneChangeDetector(AlgoOperator):
    """Scene-boundary detection over frame-level features: flags frames
    whose feature value jumps more than ``threshold`` from the previous
    sampled frame of the same video — the standard cut detector used to
    pick visually-diverse frames for multimodal training instead of
    uniform stride sampling.

    Operates on the explode-shaped output of :class:`FrameSampler`
    (or any ``(id, frame_index, value)`` frame): appends ``mean_delta``
    (absolute difference to the previous frame; NULL for each video's
    first frame) and ``is_scene_change`` (delta above threshold; a
    video's first frame always starts a scene).

    Scale shape: one window over ``partitionBy(id) orderBy(frame_index)``
    — a single hash exchange on the video id plus an in-partition sort,
    all codegen; frames per video are bounded by the decode stage, so no
    partition outgrows memory.
    """

    idCol = Param(Params._dummy(), "idCol", "video/document id column",
                  typeConverter=TypeConverters.toString)
    frameIndexCol = Param(Params._dummy(), "frameIndexCol",
                          "frame ordering column",
                          typeConverter=TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol",
                     "per-frame feature column",
                     typeConverter=TypeConverters.toString)
    threshold = Param(Params._dummy(), "threshold",
                      "absolute feature delta that opens a new scene",
                      typeConverter=TypeConverters.toFloat)

    _defaults = dict(idCol="doc_id", frameIndexCol="frame_index",
                     valueCol="frame_mean", threshold=8.0)

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        idc = self.getOrDefault(self.idCol)
        fic = self.getOrDefault(self.frameIndexCol)
        vc = self.getOrDefault(self.valueCol)
        t = self.getOrDefault(self.threshold)
        w = Window.partitionBy(idc).orderBy(fic)
        delta = F.abs(F.col(vc) - F.lag(vc).over(w))
        return (df
                .withColumn("mean_delta", delta)
                .withColumn("is_scene_change",
                            F.coalesce(delta > F.lit(t), F.lit(True))))


class AudioFeatureExtractor(AlgoOperator, HasBinaryCol, HasDecoder):
    """'Audio' payload → fixed-size energy features: rms, zero-crossing
    rate, peak — numpy over stub-decoded PCM (``decoder='soundfile'``
    requires the real library)."""

    sampleCount = Param(Params._dummy(), "sampleCount",
                        "stub-decoded samples per payload",
                        typeConverter=TypeConverters.toInt)

    _defaults = dict(sampleCount=1024)

    def transform(self, df: DataFrame) -> DataFrame:
        dec = self.getDecoder()
        if dec not in ("fake", "wav"):
            # fail fast on the driver; workers re-import by name below
            # ('wav' is the stdlib wave module — always present)
            _load_real_decoder(dec, {"soundfile": "soundfile"})
        bcol = self.getBinaryCol()
        n = self.getOrDefault(self.sampleCount)
        schema = _passthrough_schema(
            df, ["rms double", "zcr double", "peak double"],
            exclude=("rms", "zcr", "peak"))

        def feats(batches):
            if dec == "fake":
                def samples(p):
                    return fake_samples(
                        bytes(p) if p is not None else b"", n)
            elif dec == "wav":
                def samples(p):
                    # real decode via stdlib wave: RIFF PCM → mono
                    # float64 in [-1, 1]; NULL payload → NULL feats
                    if p is None:
                        return None
                    return decode_wav_bytes(bytes(p))
            else:
                import io

                import soundfile as sf_mod

                def samples(p):
                    # real decode: mono-fold; NULL payload → NULL feats
                    if p is None:
                        return None
                    data, _sr = sf_mod.read(io.BytesIO(bytes(p)),
                                            dtype="float64")
                    return data.mean(axis=1) if data.ndim > 1 else data

            for pdf in batches:
                pdf = pdf.copy()
                rms, zcr, peak = [], [], []
                for p in pdf[bcol]:
                    s = samples(p)
                    if s is None or not len(s):
                        rms.append(None)
                        zcr.append(None)
                        peak.append(None)
                        continue
                    rms.append(float(np.sqrt((s * s).mean())))
                    zcr.append(float((np.diff(np.signbit(s)) != 0).mean()))
                    peak.append(float(np.abs(s).max()))
                pdf["rms"] = rms
                pdf["zcr"] = zcr
                pdf["peak"] = peak
                yield pdf

        # no repartition: measured slightly NEGATIVE at sf0.1 (payload
        # shuffle > parallelism gain for this cheap pass)
        return df.mapInPandas(feats, schema)


class PerceptualImageHasher(AlgoOperator):
    """Difference-hash (dHash) perceptual image fingerprinting over a
    DECODED (height, width, pixels) table — the image-domain twin of
    the text SimHash family: visually identical / near-identical
    images land on identical / near-identical 64-bit hashes, so image
    near-dup reduces to hamming-distance search.

    dHash (Krawetz 2013): nearest-neighbor resize to 8×9 grayscale,
    bit(i,j) = px[i][j] > px[i][j+1] → 64 bits. Appends

    * ``dhash_hex``            — 16-char hex (row-major, row 0 most
                                 significant),
    * ``dhash_b0..dhash_b3``   — the four 16-bit bands (two rows each),
                                 the LSH keys for banded hamming join.

    ``duplicate_pairs(df, id_col, max_distance)`` returns verified
    near-dup pairs: candidates from FOUR band equi-joins (a pair within
    hamming distance ≤ 3 shares at least one intact band by
    pigeonhole — max_distance > 3 would need wider bands), verified by
    exact hamming via per-band xor bit_count. Never an all-pairs join.

    Scale shape: hashing is one Arrow ``mapInPandas`` pass (vectorized
    numpy resize + comparisons); the pair search is a bucketed
    self-join on uniform 16-bit keys + a map-side verify — the
    SimHash/MinHash banding shape, output-bound by construction.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        schema = _passthrough_schema(
            df, ["dhash_hex string", "dhash_b0 int", "dhash_b1 int",
                 "dhash_b2 int", "dhash_b3 int"],
            exclude=("dhash_hex", "dhash_b0", "dhash_b1", "dhash_b2",
                     "dhash_b3"))

        def hash_batch(batches):
            for pdf in batches:
                hexes, bands = [], [[], [], [], []]
                for _, r in pdf.iterrows():
                    if r["pixels"] is None:
                        hexes.append(None)
                        for b in bands:
                            b.append(None)
                        continue
                    img = np.asarray(r["pixels"]).reshape(
                        r["height"], r["width"])
                    yi = (np.arange(8) * r["height"]) // 8
                    xi = (np.arange(9) * r["width"]) // 9
                    small = img[np.ix_(yi, xi)]
                    bits = (small[:, :-1] > small[:, 1:]).ravel()
                    bvals = []
                    for k in range(4):
                        chunk = bits[k * 16:(k + 1) * 16]
                        bvals.append(int(
                            sum(int(b) << (15 - i)
                                for i, b in enumerate(chunk))))
                    hexes.append("".join(f"{v:04x}" for v in bvals))
                    for b, v in zip(bands, bvals):
                        b.append(v)
                out = pdf.copy()
                out["dhash_hex"] = hexes
                for k in range(4):
                    out[f"dhash_b{k}"] = pd.array(bands[k],
                                                  dtype="Int32")
                yield out

        return df.mapInPandas(hash_batch, schema)

    def duplicate_pairs(self, df: DataFrame, id_col: str = "doc_id",
                        max_distance: int = 2) -> DataFrame:
        """Verified near-dup pairs (id_a < id_b, hamming ≤
        max_distance) from a table ALREADY carrying the dhash columns
        (run ``transform`` first)."""
        if not 0 <= max_distance <= 3:
            raise ValueError("max_distance must be in [0, 3] for "
                             "4-band 64-bit pigeonhole coverage")
        cols = [id_col, "dhash_b0", "dhash_b1", "dhash_b2", "dhash_b3"]
        # checkpoint the (id, bands) projection: the four band joins
        # read it 8 times, and without the barrier each read would
        # replay the Arrow decode+hash pass upstream (the dominant
        # cost — sf0.1 pairs: 8.1 s lazy vs 7.4 s checkpointed, of
        # which ~4 s is the one remaining stub decode+hash pass)
        h = (df.select(*cols).filter(F.col("dhash_b0").isNotNull())
             .localCheckpoint(eager=True))
        a = h.select(*[F.col(c).alias(f"{c}_a") for c in cols])
        b = h.select(*[F.col(c).alias(f"{c}_b") for c in cols])
        cands = None
        for k in range(4):
            pair = a.join(
                b, (F.col(f"dhash_b{k}_a") == F.col(f"dhash_b{k}_b"))
                & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b")))
            cands = pair if cands is None else cands.unionByName(pair)
        cands = cands.dropDuplicates([f"{id_col}_a", f"{id_col}_b"])
        ham = sum(
            F.bit_count(F.col(f"dhash_b{k}_a")
                        .bitwiseXOR(F.col(f"dhash_b{k}_b")))
            for k in range(4))
        return (cands.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_distance)
                .select(F.col(f"{id_col}_a").alias("id_a"),
                        F.col(f"{id_col}_b").alias("id_b"), "hamming"))


class AverageImageHasher(AlgoOperator):
    """Average-hash (aHash) perceptual fingerprinting over a DECODED
    (height, width, pixels) table — the mean-threshold member of the
    Krawetz hash family, complementing :class:`PerceptualImageHasher`'s
    gradient dHash: aHash keys on global luminance structure, dHash on
    local gradients, and near-dup pipelines commonly AND the two to
    cut false positives.

    aHash: nearest-neighbor resize to 8×8, bit(i,j) = 64·px[i][j] >
    Σpx (the integer cross-multiplied form of px > mean, so the
    threshold is EXACT — no float mean, engine-portable). Appends
    ``ahash_hex`` and the four 16-bit bands ``ahash_b0..ahash_b3``
    (LSH keys for banded hamming join, same convention as dHash so
    the two hash families share downstream pair machinery).

    Scale shape: one Arrow ``mapInPandas`` pass, no shuffle.
    """

    def transform(self, df: DataFrame) -> DataFrame:
        schema = _passthrough_schema(
            df, ["ahash_hex string", "ahash_b0 int", "ahash_b1 int",
                 "ahash_b2 int", "ahash_b3 int"],
            exclude=("ahash_hex", "ahash_b0", "ahash_b1", "ahash_b2",
                     "ahash_b3"))

        def hash_batch(batches):
            for pdf in batches:
                hexes, bands = [], [[], [], [], []]
                for _, r in pdf.iterrows():
                    if r["pixels"] is None:
                        hexes.append(None)
                        for b in bands:
                            b.append(None)
                        continue
                    img = np.asarray(r["pixels"]).reshape(
                        r["height"], r["width"]).astype(np.int64)
                    yi = (np.arange(8) * r["height"]) // 8
                    xi = (np.arange(8) * r["width"]) // 8
                    small = img[np.ix_(yi, xi)]
                    total = int(small.sum())
                    bits = (small.ravel() * 64 > total)
                    bvals = []
                    for k in range(4):
                        chunk = bits[k * 16:(k + 1) * 16]
                        bvals.append(int(
                            sum(int(b) << (15 - i)
                                for i, b in enumerate(chunk))))
                    hexes.append("".join(f"{v:04x}" for v in bvals))
                    for b, v in zip(bands, bvals):
                        b.append(v)
                out = pdf.copy()
                out["ahash_hex"] = hexes
                for k in range(4):
                    out[f"ahash_b{k}"] = pd.array(bands[k],
                                                  dtype="Int32")
                yield out

        return df.mapInPandas(hash_batch, schema)


class AudioSilenceDetector(AlgoOperator, HasBinaryCol, HasDecoder):
    """Windowed silence detection over an 'audio' payload — the
    trim/segment primitive of audio curation (leading-silence trim,
    dead-air ratio gates, VAD pre-filtering): the PCM stream is cut
    into fixed windows of ``windowSize`` samples and a window is
    SILENT when its RMS is below ``threshold``.

    Appends per payload::

        n_windows      full windows analyzed
        n_silent       silent windows
        silence_frac   n_silent / n_windows
        n_silent_runs  maximal consecutive silent runs
        lead_trim      leading silent windows (the trim offset)

    Decoders as in :class:`AudioFeatureExtractor`: ``fake`` (the
    deterministic sha256-keystream stub the SQL oracle replays),
    ``wav`` (stdlib RIFF PCM), ``soundfile`` (import-guarded real
    codec). NULL payloads yield NULL columns.
    """

    sampleCount = Param(Params._dummy(), "sampleCount",
                        "stub-decoded samples per payload",
                        typeConverter=TypeConverters.toInt)
    windowSize = Param(Params._dummy(), "windowSize",
                       "samples per analysis window",
                       typeConverter=TypeConverters.toInt)
    threshold = Param(Params._dummy(), "threshold",
                      "RMS below this is silence",
                      typeConverter=TypeConverters.toFloat)

    _defaults = dict(sampleCount=1024, windowSize=64,
                     threshold=0.5)

    def setWindowSize(self, v):
        v = int(v)
        if v < 1:
            raise ValueError(f"windowSize must be >= 1, got {v}")
        return self._set(windowSize=v)

    def setThreshold(self, v):
        v = float(v)
        if v <= 0:
            raise ValueError(f"threshold must be positive, got {v}")
        return self._set(threshold=v)

    def transform(self, df: DataFrame) -> DataFrame:
        dec = self.getDecoder()
        if dec not in ("fake", "wav"):
            _load_real_decoder(dec, {"soundfile": "soundfile"})
        bcol = self.getBinaryCol()
        n = self.getOrDefault(self.sampleCount)
        w = self.getOrDefault(self.windowSize)
        thr = self.getOrDefault(self.threshold)
        schema = _passthrough_schema(
            df, ["n_windows int", "n_silent int",
                 "silence_frac double", "n_silent_runs int",
                 "lead_trim int"],
            exclude=("n_windows", "n_silent", "silence_frac",
                     "n_silent_runs", "lead_trim"))

        def detect(batches):
            if dec == "fake":
                def samples(p):
                    return fake_samples(
                        bytes(p) if p is not None else b"", n)
            elif dec == "wav":
                def samples(p):
                    return (decode_wav_bytes(bytes(p))
                            if p is not None else None)
            else:
                import io

                import soundfile as sf_mod

                def samples(p):
                    if p is None:
                        return None
                    data, _sr = sf_mod.read(io.BytesIO(bytes(p)),
                                            dtype="float64")
                    return data.mean(axis=1) if data.ndim > 1 else data

            for pdf in batches:
                pdf = pdf.copy()
                cols = {k: [] for k in ("n_windows", "n_silent",
                                        "silence_frac",
                                        "n_silent_runs", "lead_trim")}
                for p in pdf[bcol]:
                    s = samples(p)
                    if s is None or len(s) < w:
                        for k in cols:
                            cols[k].append(None)
                        continue
                    nw = len(s) // w
                    win = s[:nw * w].reshape(nw, w)
                    rms = np.sqrt((win * win).mean(axis=1))
                    silent = rms < thr
                    starts = int(silent[0]) + int(
                        (silent[1:] & ~silent[:-1]).sum())
                    lead = int(np.argmax(~silent)) if (~silent).any() \
                        else nw
                    cols["n_windows"].append(nw)
                    cols["n_silent"].append(int(silent.sum()))
                    cols["silence_frac"].append(
                        float(silent.sum()) / nw)
                    cols["n_silent_runs"].append(starts)
                    cols["lead_trim"].append(lead)
                for k, v in cols.items():
                    pdf[k] = v
                yield pdf[names]

        names = [s.strip().rsplit(" ", 1)[0]
                 for s in schema.split(",")]
        return df.mapInPandas(detect, schema=schema)
