"""Multimodal (image/audio/video) column handling (SURVEY.md §2.8).

Design: media are opaque ``BinaryType`` payload columns + typed metadata
structs; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages so each executor decodes its own
partition of payloads — the only shape that works when the corpus is
100 TB of blobs (payloads never shuffle; only small metadata/features
come back).

This container has no image/audio libraries, so the REAL decoders are
stubs behind try-imports that raise ``NotImplementedError`` with a clear
message (task-sanctioned). The Spark-side plumbing — binary schema,
Arrow batch shape, partition-local decode, feature schema — is real and
verified: the registered query runs a deterministic FAKE decoder
(sha256-derived dimensions/features) through the same ``mapInPandas``
path, and its output is hash-checked against a DuckDB oracle that
recomputes the same arithmetic in SQL.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.tables import t

_N_FEATURES = 8
_FEATURE_COLS = [f"f{i}" for i in range(1, _N_FEATURES + 1)]
# Scalar feature columns (f1..f8), NOT array<double>: the driver's
# canonicalizer pandas-sorts every output column and cannot sort
# ndarray cells (round-2 FAIL) — query outputs must stay scalar.
_DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, n_frames int, "
    + ", ".join(f"{c} double" for c in _FEATURE_COLS)
)

_HEX = "0123456789abcdef"


def decode_image(payload: bytes) -> "object":
    """Real image decode — requires a codec library absent here."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real image decode needs Pillow, which is not installed in "
            "this container; use fake_decode for deterministic tests"
        ) from e
    raise NotImplementedError("wire Image.open(BytesIO(payload)) here")


def sample_frames(payload: bytes, every_n: int = 30) -> "object":
    """Real video frame sampling — requires a video codec, absent here."""
    raise NotImplementedError(
        "video frame sampling needs a codec (e.g. av/ffmpeg), not "
        "installed in this container; use fake_decode for tests"
    )


def fake_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in decoder: dimensions and an 8-d feature
    vector derived from sha256(payload). Bit-identical to the SQL oracle
    arithmetic (hex chars 1-2 → width, 3-4 → height, 5 → frame count,
    1-8 → features)."""
    h = hashlib.sha256(payload).hexdigest()
    v = [_HEX.index(c) for c in h[:8]]
    width = 16 + v[0] * 16 + v[1]
    height = 16 + v[2] * 16 + v[3]
    n_frames = 1 + v[4] % 8
    features = [round(x / 15.0, 4) for x in v]
    return width, height, n_frames, features


def map_decode(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], tuple[int, int, int, list[float]]] = fake_decode,
) -> DataFrame:
    """Partition-local decode: one Arrow batch of (id, payload) in, one
    batch of typed metadata + features out. The payload column is
    dropped on output — at scale you never carry blobs past the decode
    stage."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload)
                width, height, n_frames, features = decoder(payload)
                rows.append(
                    (doc_id, len(payload), width, height, n_frames, *features)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "width", "height", "n_frames",
                    *_FEATURE_COLS,
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(decode_batches, _DECODE_SCHEMA)


def _hexval(sql_pos: int) -> str:
    return f"(instr('{_HEX}', substr(sha, {sql_pos}, 1)) - 1)"


@query(
    "q_mm_decode_features",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             sha256(text) AS sha
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, n_bytes,
           CAST(16 + {_hexval(1)} * 16 + {_hexval(2)} AS INT) AS width,
           CAST(16 + {_hexval(3)} * 16 + {_hexval(4)} AS INT) AS height,
           CAST(1 + {_hexval(5)} % 8 AS INT)                  AS n_frames,
           {", ".join(f"round({_hexval(i)} / 15.0, 4) AS f{i}" for i in range(1, 9))}
    FROM p
    """,
)
def q_mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode + feature-extraction pipeline over binary
    payloads (utf-8 text bytes standing in for image blobs): attach a
    BinaryType payload, fake-decode each partition's payloads in an
    Arrow-batched ``mapInPandas`` stage into (width, height, n_frames)
    metadata and 8 scalar feature columns f1..f8 (scalars, not an
    array — the driver canon cannot sort array cells). The oracle
    recomputes the sha256-derived arithmetic in SQL, proving the binary
    plumbing is byte-exact end to end."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return map_decode(d)


@query(
    "q_mm_phash_dedup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, sha256(text) AS sha
      FROM documents WHERE doc_id < 500
    ), ph AS (
      SELECT doc_id,
             {_hexval(1)} * 4096 + {_hexval(2)} * 256
               + {_hexval(3)} * 16 + {_hexval(4)} AS phash
      FROM p
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
)
def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for binary media payloads: a
    16-bit signature per blob (sha256-derived here, standing in for a
    real DCT pHash — the fake decoder makes signatures pseudo-random,
    so matches are mechanical, not semantic), candidate pairs via the
    lossless 4x4-bit band join (pigeonhole: Hamming <= 3 implies one
    identical band), exact bit_count re-rank. Entirely JVM-side — the
    signature derives from sha2() without a Python stage, and payloads
    never shuffle; only (doc_id, 16-bit code) rows move."""
    # persisted: both band-join sides otherwise rescan documents and
    # re-hash the payloads; the cached relation is (doc_id, 16-bit code).
    sig = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select(
            "doc_id",
            F.conv(
                F.substring(F.sha2(F.encode("text", "utf-8"), 256), 1, 4), 16, 10
            )
            .cast("long")
            .alias("phash"),
        )
        .persist()
    )
    bands = sig.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        (F.floor(F.col("phash") / (2 ** (4 * b))) % 16).alias(
                            "band_bits"
                        ),
                    )
                    for b in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", "b.band_id", "b.band_bits")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    out = cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= 3).transform(checkpoint)
    sig.unpersist()
    return out


_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, luma double, "
    "is_scene_change int"
)


def fake_sample_frames(payload: bytes, every_n: int = 2):
    """Deterministic stand-in frame sampler: frame count and per-frame
    luma derived from sha256(payload) (hex char 5 → count, chars
    6+idx → per-frame values), sampling every ``every_n``-th frame.
    Bit-identical to the SQL oracle arithmetic."""
    h = hashlib.sha256(payload).hexdigest()
    n_frames = 1 + _HEX.index(h[4]) % 8
    for idx in range(0, n_frames, every_n):
        v = _HEX.index(h[5 + idx])
        yield idx, n_frames, round(v / 15.0, 4), int(v >= 8)


def map_sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 2,
) -> DataFrame:
    """Partition-local video frame sampling: one Arrow batch of
    (id, payload) in, MULTIPLE rows per payload out (one per sampled
    frame) — the one-to-many ``mapInPandas`` fan-out shape a real
    ffmpeg/pyav sampler plugs into (swap ``fake_sample_frames`` for
    :func:`sample_frames`). Payloads never leave the stage; only the
    tiny per-frame rows return."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                for idx, n, luma, scene in fake_sample_frames(
                    bytes(payload), every_n
                ):
                    rows.append((doc_id, idx, n, luma, scene))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "n_frames", "luma",
                    "is_scene_change",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(
        sample_batches, _FRAME_SCHEMA
    )


@query(
    "q_mm_frame_sample",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, sha256(text) AS sha
      FROM documents WHERE doc_id < 200
    ), vids AS (
      SELECT doc_id, sha,
             CAST(1 + {_hexval(5)} % 8 AS INT) AS n_frames
      FROM p
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           n_frames,
           round((instr('{_HEX}', substr(sha, 6 + frame_idx, 1)) - 1)
                 / 15.0, 4) AS luma,
           CAST(instr('{_HEX}', substr(sha, 6 + frame_idx, 1)) - 1 >= 8
                AS INT) AS is_scene_change
    FROM vids, unnest(generate_series(0, n_frames - 1, 2)) AS u(frame_idx)
    """,
)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling pipeline over binary payloads: each "video"
    (utf-8 bytes standing in for an encoded stream) is fake-decoded to
    1-8 frames and every 2nd frame is sampled into a per-frame row with
    a luma value and a scene-change flag — the one-to-many
    ``mapInPandas`` shape (contrast ``q_mm_decode_features``' 1:1
    decode).  At 100 TB the payload column never shuffles: frames
    extract inside each partition and only (doc_id, frame metadata)
    rows move on.  The oracle regenerates the same sha256 arithmetic
    with generate_series, proving the fan-out is byte-exact."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return map_sample_frames(d)


def vad_segments(payload: bytes) -> "object":
    """Real voice-activity detection — needs an audio stack (librosa /
    webrtcvad / torchaudio), none installed in this container."""
    raise NotImplementedError(
        "real VAD needs an audio decode + energy stack (librosa or "
        "webrtcvad), not installed in this container; use the "
        "deterministic fake energy series for tests"
    )


_VAD_WINDOWS = 16
_VAD_THRESHOLD = 8  # hex-nibble energy >= 8 counts as voiced


@query(
    "q_mm_audio_vad",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             sha256(text) AS sha
      FROM documents WHERE doc_id < 300
    ), w AS (
      SELECT doc_id, n_bytes, i.wpos,
             (instr('{_HEX}', substr(sha, CAST(i.wpos + 1 AS INT), 1)) - 1)
               AS energy
      FROM p, (SELECT unnest(range({_VAD_WINDOWS})) AS wpos) i
    ), act AS (
      SELECT doc_id, n_bytes, wpos,
             CASE WHEN energy >= {_VAD_THRESHOLD} THEN 1 ELSE 0 END AS a
      FROM w
    ), isl AS (
      SELECT doc_id, wpos, a,
             wpos - row_number() OVER (PARTITION BY doc_id, a
                                       ORDER BY wpos) AS grp
      FROM act
    ), seg AS (
      SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS seg_len,
             CAST(min(wpos) AS BIGINT) AS seg_start
      FROM isl WHERE a = 1 GROUP BY doc_id, grp
    ), docs AS (
      SELECT DISTINCT doc_id, n_bytes FROM p
    )
    SELECT d.doc_id, d.n_bytes,
           CAST(coalesce(sum(s.seg_len), 0) AS INT) AS n_active,
           CAST(count(s.grp) AS INT) AS n_segments,
           CAST(coalesce(max(s.seg_len), 0) AS INT) AS max_segment_len,
           CAST(min(s.seg_start) AS INT) AS first_active_w
    FROM docs d LEFT JOIN seg s ON s.doc_id = d.doc_id
    GROUP BY d.doc_id, d.n_bytes
    """,
)
def q_mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection over binary audio
    payloads — the SEGMENTATION member of the multimodal family
    (decode → per-window energy → maximal voiced runs), the shape a
    speech-data pipeline runs before transcription to cut silence and
    price ASR compute. Each payload fake-decodes (sha256 chain, the
    house stand-in contract) to a 16-window energy series; windows at
    or above the threshold are voiced, and the Python stage computes
    the run-length structure per doc: voiced-window count, segment
    count, longest segment, first voiced window (NULL when the whole
    clip is silence — both engines agree on the empty-min convention).
    The real decoder (:func:`vad_segments`) is the documented env-gated
    stub; the oracle recomputes the segmentation declaratively as a
    gaps-and-islands window chain over the unnested energy positions,
    certifying the imperative run-length loop against the relational
    form bit-for-bit.

    Plan: partition-local ``mapInPandas`` (payloads never shuffle; one
    Arrow batch in, six scalar columns out), no shuffle at all before
    the output relation. At 100 TB this is the canonical
    embarrassingly-parallel decode scan."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )

    def vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                h = hashlib.sha256(payload).hexdigest()
                energies = [_HEX.index(c) for c in h[:_VAD_WINDOWS]]
                runs: list[tuple[int, int]] = []  # (start, length)
                start = None
                for i, e in enumerate(energies):
                    if e >= _VAD_THRESHOLD and start is None:
                        start = i
                    elif e < _VAD_THRESHOLD and start is not None:
                        runs.append((start, i - start))
                        start = None
                if start is not None:
                    runs.append((start, _VAD_WINDOWS - start))
                rows.append(
                    (
                        doc_id,
                        len(payload),
                        sum(ln for _, ln in runs),
                        len(runs),
                        max((ln for _, ln in runs), default=0),
                        runs[0][0] if runs else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "n_active", "n_segments",
                    "max_segment_len", "first_active_w",
                ],
            )

    return d.mapInPandas(
        vad_batches,
        "doc_id long, n_bytes long, n_active int, n_segments int,"
        " max_segment_len int, first_active_w int",
    )


_TILE = 16   # resize input tile (16x16 fake pixels from the sha stream)
_POOL = 2    # 2x2 average pooling -> 8x8 output


def resize_image(payload: bytes, dst_w: int, dst_h: int) -> "object":
    """Real image resize — requires a codec/imaging library absent
    here (PIL's Image.resize / cv2.resize in production)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real image resize needs Pillow, which is not installed in "
            "this container; use the fake tile-pool path for tests"
        ) from e
    raise NotImplementedError(
        "wire Image.open(BytesIO(payload)).resize((dst_w, dst_h)) here"
    )


def fake_resize_pool(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for the resize kernel: materialize a
    16×16 'pixel' tile from sha256(payload) (pixel(i,j) = hex value at
    position (i·16+j) mod 64), average-pool 2×2 with truncating
    integer mean — the exact arithmetic a box-filter downsample does —
    and return (pooled_sum, pooled_checksum, src_pixel_sum, n_px).
    Bit-identical to the SQL oracle's instr() recomputation."""
    h = hashlib.sha256(payload).hexdigest()

    def px(i: int, j: int) -> int:
        return _HEX.index(h[(i * _TILE + j) % 64])

    dst = _TILE // _POOL
    pooled_sum = 0
    checksum = 0
    for i in range(dst):
        for j in range(dst):
            p = (
                px(2 * i, 2 * j)
                + px(2 * i, 2 * j + 1)
                + px(2 * i + 1, 2 * j)
                + px(2 * i + 1, 2 * j + 1)
            ) // 4
            pooled_sum += p
            checksum += p * (i * dst + j + 1)
    src_sum = sum(px(i, j) for i in range(_TILE) for j in range(_TILE))
    return pooled_sum, checksum, src_sum, _TILE * _TILE


_RESIZE_SCHEMA = (
    "doc_id long, src_w int, src_h int, tile int, dst int, "
    "pooled_sum long, pooled_checksum long, src_pixel_sum long"
)


def map_resize(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Partition-local resize stage: Arrow batches of (id, payload) in,
    typed resize metadata out, payloads dropped on output — the same
    never-shuffle-blobs shape as map_decode."""

    def resize_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload)
                w, hgt, _nf, _feats = fake_decode(payload)
                ps, ck, ss, npx = fake_resize_pool(payload)
                rows.append(
                    (doc_id, w, hgt, _TILE, _TILE // _POOL, ps, ck, ss)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "tile", "dst",
                    "pooled_sum", "pooled_checksum", "src_pixel_sum",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(
        resize_batches, _RESIZE_SCHEMA
    )


def _px_sql(row_expr: str, col_expr: str) -> str:
    """Oracle pixel lookup: hex value at sha position
    ((row·16 + col) mod 64) + 1."""
    return (
        f"(instr('{_HEX}', substr(sha, (({row_expr}) * {_TILE}"
        f" + ({col_expr})) % 64 + 1, 1)) - 1)"
    )


@query(
    "q_mm_resize",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, sha256(text) AS sha
      FROM documents WHERE doc_id < 200
    ), grid AS (
      SELECT doc_id, sha, CAST(g.i AS BIGINT) AS i, CAST(g2.j AS BIGINT) AS j
      FROM p,
           (SELECT unnest(range(0, {_TILE // _POOL})) AS i) g,
           (SELECT unnest(range(0, {_TILE // _POOL})) AS j) g2
    ), pooled AS (
      SELECT doc_id, sha, i, j,
             ({_px_sql("2 * i", "2 * j")}
              + {_px_sql("2 * i", "2 * j + 1")}
              + {_px_sql("2 * i + 1", "2 * j")}
              + {_px_sql("2 * i + 1", "2 * j + 1")}) // 4 AS pv
      FROM grid
    ), src AS (
      SELECT doc_id,
             CAST(sum({_px_sql("s.i", "s2.j")}) AS BIGINT)
               AS src_pixel_sum
      FROM p,
           (SELECT unnest(range(0, {_TILE})) AS i) s,
           (SELECT unnest(range(0, {_TILE})) AS j) s2
      GROUP BY doc_id
    )
    SELECT pl.doc_id,
           CAST(16 + {_hexval(1)} * 16 + {_hexval(2)} AS INT) AS src_w,
           CAST(16 + {_hexval(3)} * 16 + {_hexval(4)} AS INT) AS src_h,
           CAST({_TILE} AS INT) AS tile,
           CAST({_TILE // _POOL} AS INT) AS dst,
           CAST(sum(pv) AS BIGINT) AS pooled_sum,
           CAST(sum(pv * (i * {_TILE // _POOL} + j + 1)) AS BIGINT)
             AS pooled_checksum,
           max(s.src_pixel_sum) AS src_pixel_sum
    FROM pooled pl JOIN src s ON s.doc_id = pl.doc_id
    GROUP BY pl.doc_id, sha
    """,
)
def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal RESIZE stage — the third member of the brief's
    decode / feature-extract / resize / frame-sample quartet: a 2×2
    box-filter downsample (truncating integer mean — exactly the
    arithmetic a box resize kernel does) over a deterministic 16×16
    sha256-derived pixel tile, run as the same Arrow-batched
    partition-local ``mapInPandas`` stage as the decode — payloads
    never shuffle, only the 8-column typed result comes back. The real
    kernel (:func:`resize_image`) is the documented env-gated stub;
    the fake tile path exercises the REAL plumbing (binary schema,
    batch shape, payload drop) and its per-document pooled sum /
    position-weighted checksum / source-pixel sum are hash-certified
    against the oracle's instr()-arithmetic recomputation — so the
    resize arithmetic, not just the plumbing, is certified end to end.

    Plan: one map-side mapInPandas stage over the payload scan, zero
    shuffles before the driver-side sort; at 100 TB each executor
    pools its own partition's tiles and emits 8 scalars per blob."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return map_resize(d)


_PATCH = 6   # ViT-style patch edge; 16 % 6 != 0 forces boundary padding
_PGRID = (_TILE + _PATCH - 1) // _PATCH  # ceil(16/6) = 3


def fake_patchify(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for the ViT patchify kernel: the same
    16x16 sha-derived pixel tile as :func:`fake_resize_pool`, cut into
    a ceil(16/6) x ceil(16/6) = 3x3 grid of 6x6 patches with ZERO
    padding past the right/bottom edge (the exact boundary arithmetic
    a real patch embedder does on a non-divisible image), returning
    (patch_min, patch_max, flatten_checksum, total). The checksum
    weights each patch sum by its row-major flatten position + 1 - the
    order the transformer sees patches - so a transposed or re-ordered
    patchify cannot hash-match. Bit-identical to the SQL oracle's
    instr() recomputation."""
    h = hashlib.sha256(payload).hexdigest()

    def px(i: int, j: int) -> int:
        return _HEX.index(h[(i * _TILE + j) % 64])

    sums = []
    for pi in range(_PGRID):
        for pj in range(_PGRID):
            s = 0
            for di in range(_PATCH):
                for dj in range(_PATCH):
                    i, j = _PATCH * pi + di, _PATCH * pj + dj
                    if i < _TILE and j < _TILE:
                        s += px(i, j)
            sums.append(s)
    checksum = sum(s * (k + 1) for k, s in enumerate(sums))
    return min(sums), max(sums), checksum, sum(sums)


_PATCHIFY_SCHEMA = (
    "doc_id long, src_w int, src_h int, patch int, grid int, "
    "n_patches int, pad_x int, pad_y int, patch_min long, "
    "patch_max long, flatten_checksum long, pixel_total long"
)


def map_patchify(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Partition-local patchify stage: Arrow batches of (id, payload)
    in, typed patch-grid metadata out, payloads dropped on output -
    the same never-shuffle-blobs shape as map_decode/map_resize."""

    def patch_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload)
                w, hgt, _nf, _feats = fake_decode(payload)
                pmin, pmax, ck, tot = fake_patchify(payload)
                rows.append(
                    (
                        doc_id, w, hgt, _PATCH, _PGRID,
                        _PGRID * _PGRID,
                        _PGRID * _PATCH - _TILE,
                        _PGRID * _PATCH - _TILE,
                        pmin, pmax, ck, tot,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "patch", "grid",
                    "n_patches", "pad_x", "pad_y", "patch_min",
                    "patch_max", "flatten_checksum", "pixel_total",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(
        patch_batches, _PATCHIFY_SCHEMA
    )


@query(
    "q_mm_patchify",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, sha256(text) AS sha
      FROM documents WHERE doc_id < 200
    ), cells AS (
      SELECT doc_id, sha,
             CAST(g.pi AS BIGINT) AS pi, CAST(g2.pj AS BIGINT) AS pj,
             CAST(sum({_px_sql("d.di + " + str(_PATCH) + " * g.pi",
                               "d2.dj + " + str(_PATCH) + " * g2.pj")})
                  AS BIGINT) AS s
      FROM p,
           (SELECT unnest(range(0, {_PGRID})) AS pi) g,
           (SELECT unnest(range(0, {_PGRID})) AS pj) g2,
           (SELECT unnest(range(0, {_PATCH})) AS di) d,
           (SELECT unnest(range(0, {_PATCH})) AS dj) d2
      WHERE d.di + {_PATCH} * g.pi < {_TILE}
        AND d2.dj + {_PATCH} * g2.pj < {_TILE}
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id,
           CAST(16 + {_hexval(1)} * 16 + {_hexval(2)} AS INT) AS src_w,
           CAST(16 + {_hexval(3)} * 16 + {_hexval(4)} AS INT) AS src_h,
           CAST({_PATCH} AS INT) AS patch,
           CAST({_PGRID} AS INT) AS grid,
           CAST({_PGRID * _PGRID} AS INT) AS n_patches,
           CAST({_PGRID * _PATCH - _TILE} AS INT) AS pad_x,
           CAST({_PGRID * _PATCH - _TILE} AS INT) AS pad_y,
           CAST(min(s) AS BIGINT) AS patch_min,
           CAST(max(s) AS BIGINT) AS patch_max,
           CAST(sum(s * (pi * {_PGRID} + pj + 1)) AS BIGINT)
               AS flatten_checksum,
           CAST(sum(s) AS BIGINT) AS pixel_total
    FROM cells GROUP BY doc_id, sha
    """,
)
def q_mm_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal PATCHIFY stage - the ViT front door completing the
    decode / feature / resize / frame-sample / patchify pipeline: cut
    each decoded image into fixed 6x6 patches on a ceil-grid with
    zero padding past the right/bottom edge (16 % 6 != 0 by
    construction, so the boundary arithmetic is actually exercised),
    and certify the per-patch sums AND the row-major flatten order
    (the checksum weights patch k by k+1, so a transposed grid cannot
    hash-match) - the patch count x (patch^2 x channels) shape is
    exactly what a vision-transformer embedding layer consumes, and
    the pad columns are the attention-mask budget.

    Determinism/exactness: the deterministic sha256 pixel tile (the
    fake_decode contract) makes every patch sum an exact integer both
    engines recompute independently - Spark inside the Arrow-batched
    ``mapInPandas`` kernel, DuckDB via instr() hex arithmetic over an
    unnested bounded grid; no floats anywhere. Real codec path stays
    the documented env-gated stub (multimodal.py:51-60).

    Plan: one map-side mapInPandas stage over the payload scan -
    payloads never shuffle, 12 scalar columns come back. At 100 TB
    each executor patchifies its own partition's blobs."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return map_patchify(d)


_SHOT_FRAMES = 8   # fixed fake-frame count for the shot detector
_SHOT_NIBBLES = 8  # hex nibbles summed per frame signature
_SHOT_THRESH = 16  # |sig_k - sig_{k-1}| >= 16 -> shot boundary


def fake_shot_signatures(payload: bytes) -> list:
    """Deterministic stand-in for per-frame video signatures: frame k
    (k = 0..7) gets the sum of 8 hex nibbles at sha positions
    8k+1..8k+8 - the same sha-stream arithmetic as the decode/resize
    fakes, so the whole multimodal family shares one certification
    contract. Bit-identical to the SQL oracle's instr() recomputation."""
    h = hashlib.sha256(payload).hexdigest()
    return [
        sum(
            _HEX.index(h[(k * _SHOT_NIBBLES + j) % 64])
            for j in range(_SHOT_NIBBLES)
        )
        for k in range(_SHOT_FRAMES)
    ]


_SHOT_SCHEMA = (
    "doc_id long, n_frames int, n_shots int, max_delta long, "
    "boundary_mask long, sig_first long, sig_last long"
)


def map_shot_detect(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Partition-local shot detection: Arrow batches of (id, payload)
    in, per-video shot metadata out - payloads never shuffle."""

    def shot_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                sigs = fake_shot_signatures(bytes(payload))
                deltas = [
                    abs(b - a) for a, b in zip(sigs, sigs[1:])
                ]
                mask = sum(
                    1 << k
                    for k, d in enumerate(deltas)
                    if d >= _SHOT_THRESH
                )
                rows.append(
                    (
                        doc_id,
                        _SHOT_FRAMES,
                        1 + sum(d >= _SHOT_THRESH for d in deltas),
                        max(deltas),
                        mask,
                        sigs[0],
                        sigs[-1],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_shots", "max_delta",
                    "boundary_mask", "sig_first", "sig_last",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(
        shot_batches, _SHOT_SCHEMA
    )


def _sig_sql(frame_expr: str) -> str:
    """Oracle frame signature: sum of 8 hex nibbles at sha positions
    (8k+j) mod 64 + 1, j = 0..7."""
    return "(" + " + ".join(
        f"(instr('{_HEX}', substr(sha, (({frame_expr}) * {_SHOT_NIBBLES}"
        f" + {j}) % 64 + 1, 1)) - 1)"
        for j in range(_SHOT_NIBBLES)
    ) + ")"


@query(
    "q_mm_shot_detect",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, sha256(text) AS sha
      FROM documents WHERE doc_id < 200
    ), sigs AS (
      SELECT doc_id, CAST(k.k AS BIGINT) AS k,
             CAST({_sig_sql("k.k")} AS BIGINT) AS sig
      FROM p, (SELECT unnest(range(0, {_SHOT_FRAMES})) AS k) k
    ), deltas AS (
      SELECT doc_id, k, sig,
             abs(sig - lag(sig) OVER (PARTITION BY doc_id ORDER BY k))
               AS d
      FROM sigs
    )
    SELECT doc_id,
           CAST({_SHOT_FRAMES} AS INT) AS n_frames,
           CAST(1 + sum(CASE WHEN d >= {_SHOT_THRESH} THEN 1 ELSE 0 END)
                AS INT) AS n_shots,
           CAST(max(d) AS BIGINT) AS max_delta,
           CAST(sum(CASE WHEN d >= {_SHOT_THRESH}
                    THEN power(2, k - 1) ELSE 0 END) AS BIGINT)
               AS boundary_mask,
           CAST(max(CASE WHEN k = 0 THEN sig END) AS BIGINT) AS sig_first,
           CAST(max(CASE WHEN k = {_SHOT_FRAMES - 1} THEN sig END)
                AS BIGINT) AS sig_last
    FROM deltas GROUP BY doc_id
    """,
)
def q_mm_shot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal SHOT-BOUNDARY detection - the video-temporal member
    of the family (frame_sample proves the 1:N fan-out; this key runs
    the actual frame-DIFFERENCING kernel every video-ingest pipeline
    applies before sampling: consecutive-frame signature deltas above
    a threshold mark cuts, and clips are then sampled per-shot rather
    than per-frame so a 2-hour single-shot lecture does not get 7000
    redundant keyframes). Each "video" yields 8 deterministic frame
    signatures from the sha stream; |sig_k - sig_{k-1}| >= 16 is a
    boundary; the bitmask pins WHICH transitions cut (an off-by-one
    frame index cannot hash-match).

    Determinism/exactness: all-integer sha-nibble arithmetic (the
    fake_decode contract) - Spark computes it inside the Arrow-batched
    ``mapInPandas`` kernel, DuckDB via instr() over an unnested frame
    grid with a per-doc lag window; boundary mask folds as
    Sum 2^(k-1) exact. Real codec path remains the documented
    env-gated stub (multimodal.py:51-60).

    Plan: one map-side mapInPandas stage over the payload scan -
    payloads never shuffle, 7 scalars per video come back."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return map_shot_detect(d)
