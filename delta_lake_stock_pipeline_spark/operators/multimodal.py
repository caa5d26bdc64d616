"""Multimodal-column operators (north-star extension).

The fixtures carry no real image/audio/video payloads, so media bytes are
synthesized deterministically (UTF-8 encode of ``documents.text``) into an
opaque ``binary`` column with typed metadata -- exactly the storage model a
100 TB multimodal lake uses: payload as parquet BINARY, metadata as scalar
columns, decode deferred to Arrow-batched Python.

The Spark-side plumbing is real and tested: binary schema, ``mapInPandas``
batch decode (Arrow transfer), explode fan-out for frame sampling. The image
path is a REAL codec end-to-end: payloads are genuine binary PGM (Netpbm P5)
images synthesized JVM-side -- ``P5`` magic, ASCII dimensions header, raw
8-bit pixel plane -- and ``image_features`` struct-parses the header and
computes pixel statistics with numpy inside ``mapInPandas``. Swapping PGM
for JPEG means replacing ``_parse_pgm`` with ``PIL.Image.open``; nothing
else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact, clear_all
from ..sources.fixtures import load_table

clear_nd_cache = clear_all  # old name, kept because perfbench/run.py imports it

_FRAME_FPS = 2
_MAX_FRAMES = 16
_CHUNK_BYTES = 256
_FP_FRAME = 32


def _parse_pgm(buf: bytes) -> tuple[int, int, "np.ndarray"]:
    """Real byte-level image decode: parse the PGM (P5) container -- magic,
    whitespace-delimited width/height/maxval header, raw pixel plane -- and
    validate the payload against the declared geometry. This is the same
    work PIL does for ``image/x-portable-graymap``, in pure Python so it
    runs in this container."""
    if not buf.startswith(b"P5"):
        raise ValueError("bad magic: not a P5 PGM payload")
    idx, vals = 2, []
    while len(vals) < 3:
        while buf[idx : idx + 1].isspace():
            idx += 1
        start = idx
        while idx < len(buf) and not buf[idx : idx + 1].isspace():
            idx += 1
        vals.append(int(buf[start:idx]))
    idx += 1  # exactly one whitespace byte separates header from pixels
    width, height, maxval = vals
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    pixels = np.frombuffer(buf, dtype=np.uint8, offset=idx)
    if pixels.size != width * height:
        raise ValueError(
            f"payload holds {pixels.size} pixels, header says {width}x{height}"
        )
    return width, height, pixels


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> opaque media table: (doc_id, payload binary, n_bytes)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.octet_length(F.encode("text", "utf-8")).cast("bigint").alias("n_bytes"),
    )


def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the opaque binary column: size + content hash.
    Pure JVM expressions; the payload never crosses into Python."""
    media = _media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        "n_bytes",
        F.md5("payload").alias("payload_md5"),
    )


def _pgm_of(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) rows -> real binary PGM images: the document's
    UTF-8 bytes become the pixel plane of a ``width x height`` 8-bit
    graymap (truncated or space-padded to fit), wrapped in a genuine P5
    container. Pure JVM expressions -- header text via ``format_string``,
    pixel plane via binary ``substr``/``concat`` -- so image synthesis
    never leaves the executors. Factored out of ``_pgm_table`` so
    ``image_neardup`` can run the same codec over its twin-augmented
    corpus."""
    docs = docs.select("doc_id", F.encode("text", "utf-8").alias("body"))
    n = F.octet_length("body")
    width = (n % 64 + 1).alias("width")
    height = ((n / 64).cast("int") % 64 + 1).alias("height")
    sized = (
        docs.select("doc_id", "body", width, height)
        .withColumn("n_pixels", (F.col("width") * F.col("height")).cast("bigint"))
        .withColumn(
            "pad_bytes",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("n_pixels") - F.octet_length("body"),
            ),
        )
    )
    header = F.encode(
        F.format_string("P5\n%d %d\n255\n", "width", "height"), "utf-8"
    )
    plane = F.concat(
        F.col("body").substr(F.lit(1), F.col("n_pixels").cast("int")),
        F.encode(F.expr("repeat(' ', int(pad_bytes))"), "utf-8"),
    )
    return sized.select(
        "doc_id",
        "width",
        "height",
        "n_pixels",
        "pad_bytes",
        F.concat(header, plane).alias("payload"),
    )


def _pgm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> real binary PGM images (see ``_pgm_of``)."""
    return _pgm_of(load_table(spark, sf_dir, "documents"))


def image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch image decode via ``mapInPandas``: Arrow-batched transfer of
    binary PGM payloads into Python, REAL per-image container parse
    (``_parse_pgm``: magic + header + geometry validation) and vectorized
    numpy pixel statistics, typed struct back out. Width/height come from
    the decoded header -- not from metadata columns -- so the oracle match
    proves the byte-level decode is faithful."""
    media = _pgm_table(spark, sf_dir).select("doc_id", "payload")

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = _parse_pgm(bytes(buf))
                total = int(pix.sum(dtype="int64"))
                # All-integer stats: exact on both engines, no float
                # rounding-mode hazard in the driver's value hash. The
                # milli-mean floor matches the oracle's identical expression.
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        w * h,
                        total,
                        int(pix.max()),
                        int((total * 1000.0) / (w * h)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_pixels",
                    "sum_intensity",
                    "max_intensity",
                    "mean_milli_intensity",
                ],
            )

    return media.mapInPandas(
        decode_batches,
        "doc_id bigint, width int, height int, n_pixels bigint, "
        "sum_intensity bigint, max_intensity int, mean_milli_intensity bigint",
    ).orderBy("doc_id")


_RESIZE_TO = 16


def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image resize to 16x16 inside ``mapInPandas``:
    decode the PGM container, index-map the pixel grid
    (``src = floor(dst * src_dim / 16)``), re-encode the thumbnail as a
    fresh P5 payload -- the decode -> transform -> re-encode loop of a
    multimodal preprocessing stage, Arrow-batched end to end.

    The md5 of the re-encoded payload is computed JVM-side over the
    binary column and the oracle recomputes THE SAME 256 sampled bytes
    from first principles (header math + floor index map in SQL), so a
    green row pins the exact thumbnail bytes, not just summary stats.

    Scale shape: map-only (one Arrow boundary, no shuffle); at 100 TB
    this is the shape of every thumbnail/feature-extraction pass --
    embarrassingly parallel, bounded memory per batch."""
    media = _pgm_table(spark, sf_dir).select("doc_id", "payload")
    t = _RESIZE_TO

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = _parse_pgm(bytes(buf))
                plane = pix.reshape(h, w)
                ys = (np.arange(t) * h) // t
                xs = (np.arange(t) * w) // t
                small = plane[np.ix_(ys, xs)].astype(np.uint8)
                payload = (
                    f"P5\n{t} {t}\n255\n".encode("ascii") + small.tobytes()
                )
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        int(small.sum(dtype="int64")),
                        int(small.max()),
                        payload,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "resized_sum",
                    "resized_max",
                    "resized",
                ],
            )

    return (
        media.mapInPandas(
            resize_batches,
            "doc_id bigint, width int, height int, resized_sum bigint,"
            " resized_max int, resized binary",
        )
        .select(
            "doc_id",
            "width",
            "height",
            "resized_sum",
            "resized_max",
            F.md5("resized").alias("resized_md5"),
        )
        .orderBy("doc_id")
    )


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame sampling plumbing: synthesize duration from metadata,
    fan out one row per sampled frame via ``explode(sequence(...))``.
    At scale this is the map-side row multiplier feeding a frame-decode
    stage; no shuffle is introduced by the explode itself."""
    media = _media_table(spark, sf_dir)
    duration_s = (F.col("n_bytes") % 120 + 1).alias("duration_s")
    n_frames = F.least(F.col("duration_s") * _FRAME_FPS, F.lit(_MAX_FRAMES))
    frames = media.select("doc_id", duration_s).withColumn(
        "n_frames", n_frames.cast("int")
    )
    return (
        frames.select(
            "doc_id",
            "duration_s",
            "n_frames",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        )
        .withColumn(
            "frame_ms",
            F.floor(F.col("frame_idx") * (F.col("duration_s") * 1000.0 / F.col("n_frames"))).cast(
                "bigint"
            ),
        )
        .orderBy("doc_id", "frame_idx")
    )


def audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-chunking plumbing: fixed-size windows over the byte stream,
    one row per chunk with offset/length -- the shape a feature-extraction
    UDF consumes."""
    media = _media_table(spark, sf_dir)
    n_chunks = F.ceil(F.col("n_bytes") / _CHUNK_BYTES).cast("int")
    return (
        media.select("doc_id", "n_bytes")
        .withColumn("n_chunks", n_chunks)
        .select(
            "doc_id",
            "n_bytes",
            "n_chunks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
        .withColumn("chunk_offset", (F.col("chunk_idx") * _CHUNK_BYTES).cast("bigint"))
        .withColumn(
            "chunk_len",
            F.least(F.lit(_CHUNK_BYTES).cast("bigint"), F.col("n_bytes") - F.col("chunk_offset")),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk audio features from REAL byte decode: the payload is
    interpreted as unsigned 8-bit PCM centered at 128, framed into
    256-byte chunks, and each chunk reports energy (sum of squared
    deviations from center) and peak amplitude -- computed with numpy over
    Arrow batches in ``mapInPandas``, the audio twin of
    ``image_features``'s byte-level decode (``m_audio_chunks`` carries
    only chunk METADATA; this op actually reads the samples).

    All features are exact integers, so the oracle -- which re-derives the
    same bytes from the document text in SQL -- matches bit-for-bit.
    Map-only: one Arrow boundary, no shuffle."""
    media = _media_table(spark, sf_dir).select("doc_id", "payload")
    chunk = _CHUNK_BYTES

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(buf), dtype=np.uint8)
                dev = samples.astype(np.int64) - 128
                for ci in range(0, max(len(samples), 1), chunk):
                    seg = dev[ci : ci + chunk]
                    rows.append(
                        (
                            doc_id,
                            ci // chunk,
                            len(seg),
                            int((seg * seg).sum()) if len(seg) else 0,
                            int(np.abs(seg).max()) if len(seg) else 0,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "chunk_idx", "n_samples", "energy", "peak"],
            )

    return media.mapInPandas(
        feature_batches,
        "doc_id bigint, chunk_idx int, n_samples int, energy bigint, peak int",
    ).orderBy("doc_id", "chunk_idx")


def audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic fingerprint over the PCM payloads (Haitsma & Kalker's
    energy-delta scheme, simplified to one band): frame the samples into
    ``_FP_FRAME``-byte fingerprint frames, then set bit i-1
    iff chunk i's energy strictly exceeds chunk i-1's -- the
    sign-of-energy-difference bit string audio near-dup pipelines
    hamming-bucket on. Completes the near-duplicate fingerprint triple:
    text (SimHash/MinHash), image (aHash), audio (this).

    All-integer (energies are exact sums of squared byte deviations, the
    comparison is strict >), bits capped at 63 so the BIGINT never
    overflows (chunk counts beyond 64 would need halves like
    ``m_image_ahash``; the frame count cap is part of the semantics and
    shared with the oracle). Map-only: one Arrow boundary, no shuffle."""
    return _afp_of(_media_table(spark, sf_dir)).orderBy("doc_id")


def _afp_of(media: DataFrame) -> DataFrame:
    """Energy-delta fingerprint core over (doc_id, payload) PCM rows ->
    (doc_id, n_chunks, fp, n_rising); shared by ``audio_fingerprint`` and
    ``audio_neardup`` (which fingerprints a twin-augmented corpus)."""
    media = media.select("doc_id", "payload")
    chunk = _FP_FRAME

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(buf), dtype=np.uint8)
                # Only chunks 0..63 can set a bit (the 63-bit cap), so
                # the energy loop is bounded at 64 chunks regardless of
                # payload size; the full chunk count is pure arithmetic
                # (ADVICE r7: per-row Python cost must not scale with
                # payload bytes past the fingerprint's own horizon).
                n_chunks = max(1, -(-len(samples) // chunk))
                dev = samples[: 64 * chunk].astype(np.int64) - 128
                energies = [
                    int((dev[ci : ci + chunk] ** 2).sum())
                    for ci in range(0, max(len(dev), 1), chunk)
                ]
                rising = [
                    i
                    for i in range(1, min(len(energies), 64))
                    if energies[i] > energies[i - 1]
                ]
                fp = sum(1 << (i - 1) for i in rising)
                rows.append((doc_id, n_chunks, int(fp), len(rising)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_chunks", "fp", "n_rising"]
            )

    return media.mapInPandas(
        fp_batches,
        "doc_id bigint, n_chunks int, fp bigint, n_rising int",
    )


def image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) over the PGM images: decode the
    container, partition the pixel grid into an 8x8 block grid (block of
    pixel (r, c) = (r*8 DIV h, c*8 DIV w) -- the nearest-neighbor
    downsample as pure integer index math), and set bit b iff block b's
    mean intensity exceeds the image mean, compared by exact integer
    cross-multiplication ``sum_b * n_total > total * cnt_b`` so no
    division ever happens. This is THE standard image near-duplicate
    fingerprint (hamming distance over aHash/pHash bits) -- the image
    side of the dedup family.

    The 64 bits are emitted as two BIGINT halves (bit 63 would overflow
    a signed 64-bit power-of-two sum); images narrower or shorter than
    8 pixels leave their empty blocks at bit 0 on both engines
    (cnt = 0 makes the strict inequality false). Arrow-batched
    ``mapInPandas`` like the rest of the family; embarrassingly
    parallel, one scan, no shuffle except the deterministic sort."""
    return _ahash_of(_pgm_table(spark, sf_dir)).orderBy("doc_id")


def _ahash_of(media: DataFrame) -> DataFrame:
    """aHash core over (doc_id, payload) PGM rows -> (doc_id,
    n_bright_blocks, ahash_hi, ahash_lo); shared by ``image_ahash`` and
    ``image_neardup`` (which hashes a twin-augmented corpus)."""
    media = media.select("doc_id", "payload")

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = _parse_pgm(bytes(buf))
                grid = pix.astype(np.int64).reshape(h, w)
                br = (np.arange(h) * 8) // h
                bc = (np.arange(w) * 8) // w
                blk = (br[:, None] * 8 + bc[None, :]).ravel()
                sums = np.zeros(64, dtype=np.int64)
                cnts = np.zeros(64, dtype=np.int64)
                np.add.at(sums, blk, grid.ravel())
                np.add.at(cnts, blk, 1)
                total, n = int(grid.sum()), w * h
                bits = (sums * n) > (total * cnts)
                lo = sum(1 << b for b in range(32) if bits[b])
                hi = sum(1 << (b - 32) for b in range(32, 64) if bits[b])
                rows.append((doc_id, int(bits.sum()), int(hi), int(lo)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bright_blocks", "ahash_hi", "ahash_lo"],
            )

    return media.mapInPandas(
        hash_batches,
        "doc_id bigint, n_bright_blocks int, ahash_hi bigint, ahash_lo bigint",
    )


# --- image near-dup pairing (VERDICT r9 task 2) ---------------------------
#
# Twin augmentation: every doc with doc_id % MOD == RES gains a
# deterministically perturbed PGM twin under doc_id + BASE -- same text
# with every 'e' replaced by 'E' (-32 on ~10% of pixel bytes). aHash is
# brightness-shift tolerant BY DESIGN (bit b compares block b's mean to
# the IMAGE mean, so a roughly uniform shift moves both sides together),
# which makes this the canonical "same image, re-encoded/re-exposed"
# near-duplicate: measured twin hamming concentrates near 0 with a tail
# past the threshold (probe: 374/500 twins within 7 at sf0.1). Mirrored
# verbatim in the DuckDB oracle. BASE clears every real doc_id at any SF.
_ND_TWIN_MOD, _ND_TWIN_RES, _ND_TWIN_BASE = 10, 3, 2_000_000
# Verify gate: hamming <= 7 over the 64 aHash bits. With 8 banding bands,
# <= 7 differing bits leave >= 1 band untouched (pigeonhole), so banding
# has EXACT recall at the threshold among pairs sharing a nonzero band
# (property-tested).
_ND_HAMMING_MAX = 7
# Information gate: images whose aHash carries < 8 bright blocks are too
# sparse for hamming to mean anything (two near-empty hashes sit at tiny
# distances by construction); real image-dedup gates on hash entropy the
# same way. Also the hub-control half of the design: the degenerate
# all-zero band value is skipped at candidate generation (a zero band
# says "no bright blocks here" -- shared absence is not similarity), which
# is what keeps the posting lists bounded (measured sf0.1: 19.2M candidate
# pairs with zero bands admitted vs 398k without).
_ND_MIN_BRIGHT = 8


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(
        F.col("doc_id") % _ND_TWIN_MOD == _ND_TWIN_RES
    ).select(
        (F.col("doc_id") + _ND_TWIN_BASE).alias("doc_id"),
        F.expr("replace(text, 'e', 'E')").alias("text"),
    )
    return docs.unionByName(twins)


def _ahash_bands(ah: DataFrame) -> DataFrame:
    """Nonzero 8-bit-band inverted-index postings (doc_id, band, val)
    over (doc_id, ahash_hi, ahash_lo) rows; the zero-band suppression is
    the hub control (see ``_ND_MIN_BRIGHT``). Shared by the batch
    self-join (``image_neardup``) and the incremental admission's
    asymmetric join (``image_incremental``)."""
    band_structs = ", ".join(
        [
            f"struct({i} as band, shiftright(ahash_lo, {8 * i}) & 255 as val)"
            for i in range(4)
        ]
        + [
            f"struct({i + 4} as band, shiftright(ahash_hi, {8 * i}) & 255 as val)"
            for i in range(4)
        ]
    )
    return (
        ah.select(
            "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("s")
        )
        .select("doc_id", "s.band", "s.val")
        .filter(F.col("val") != 0)
    )


def image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate PAIRS over the aHash fingerprints -- the step
    a multimodal curation pipeline runs right after hashing, completing
    fingerprint -> candidate pairs for the image leg the way
    ``d_ngram_jaccard`` does for text:

    1. hash the twin-augmented corpus with the real PGM codec
       (``_ahash_of``: decode, 8x8 block grid, bright-bit per block);
    2. band the 64 bits into eight 8-bit bands and build an inverted
       index of NONZERO (band, value) postings -- zero bands are shared
       absence, not similarity, and admitting them is the measured
       19.2M-pair hub (see ``_ND_MIN_BRIGHT``);
    3. equi-join postings on (band, value) -- candidate work is
       sum(posting-list^2), never |docs|^2;
    4. verify each candidate pair exactly: hamming(a, b) =
       bit_count(hi^hi) + bit_count(lo^lo) <= 7, both hashes carrying
       >= 8 bright blocks.

    Recall at the threshold is exact by pigeonhole (<= 7 differing bits
    across 8 bands leave one band equal) for pairs sharing a nonzero
    band; the hypothesis property test pins both halves. At 100 TB the
    hash table is a persisted artifact and the banding join shuffles
    postings, not images -- the text-dedup shape exactly."""
    ah = _ahash_table(spark, sf_dir)
    bands = _ahash_bands(ah)
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )
    x, y = ah.alias("x"), ah.alias("y")
    hamming = F.bit_count(F.expr("x.ahash_hi ^ y.ahash_hi")) + F.bit_count(
        F.expr("x.ahash_lo ^ y.ahash_lo")
    )
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .filter(
            (hamming <= _ND_HAMMING_MAX)
            & (
                F.least(
                    F.col("x.n_bright_blocks"), F.col("y.n_bright_blocks")
                )
                >= _ND_MIN_BRIGHT
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            hamming.cast("int").alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )


@artifact(
    setup="image_fingerprints",
    used_by=(
        "m_image_neardup",
        "m_image_incremental",
        "m_av_consensus",
        "m_image_dup_clusters",
        "m_image_keeper",
    ),
)
def _ahash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash fingerprints of the twin-augmented corpus -- consumed by five
    keys (image neardup/incremental/clusters/keeper and the consensus
    matrix), so the mapInPandas decode+hash pipeline runs ONCE per
    session instead of per key. At 100 TB this IS the persisted
    fingerprint artifact table the maintenance loop owns."""
    return _ahash_of(_pgm_of(_neardup_corpus(spark, sf_dir))).localCheckpoint()


@artifact(
    setup="audio_fingerprints",
    used_by=(
        "m_audio_neardup",
        "m_audio_incremental",
        "m_av_consensus",
        "m_audio_dup_clusters",
        "m_audio_keeper",
    ),
)
def _afp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprints of the twin-augmented corpus -- the audio twin of
    ``_ahash_table`` (neardup/incremental/clusters/keeper/consensus
    consumers)."""
    media = _neardup_corpus(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return _afp_of(media).localCheckpoint()


# The image-dedup component labels: the contraction over the sf0.1 pair
# graph (one 1,634-image chained component) is the family's one-time
# artifact, shared by m_image_dup_clusters and m_image_keeper -- the
# _dup_pairs/_shingle_posts precedent.
@artifact(
    setup="image_nd_clusters", used_by=("m_image_dup_clusters", "m_image_keeper")
)
def _nd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import largestar_components

    pairs = image_neardup(spark, sf_dir).select("doc_a", "doc_b")
    return largestar_components(pairs).localCheckpoint()


@artifact(
    setup="audio_nd_clusters", used_by=("m_audio_dup_clusters", "m_audio_keeper")
)
def _and_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of ``_nd_clusters``: star-contraction labels over the
    verified ``m_audio_neardup`` pair graph (sf0.1: 3,599 pairs, 472
    labeled clips with one 463-clip near-clique), shared by the audio
    clusters and keeper keys."""
    from .dedup import largestar_components

    pairs = audio_neardup(spark, sf_dir).select("doc_a", "doc_b")
    return largestar_components(pairs).localCheckpoint()


def image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive image-duplicate CLUSTERS: connected components over the
    verified ``m_image_neardup`` pair graph, labeling every involved image
    with its component minimum -- the step that collapses "A~B, B~C" into
    one keeper decision, giving the image leg the same
    fingerprint -> pairs -> clusters chain the text side has
    (``d_ngram_jaccard`` -> ``d_dup_clusters``). Runs on the
    large-star/small-star core (``dedup.largestar_components``): banded
    hamming graphs chain through intermediate hashes -- the sf0.1 graph
    holds one 1,634-image chained component -- so the
    diameter-independent form is the right default here, and the labeling
    cost is on the (tiny) pair output, never the image table. Same
    DuckDB transitive-closure oracle shape as ``d_dup_clusters``, nested
    over the full pair-pipeline rebuild."""
    return _nd_clusters(spark, sf_dir).orderBy("doc_id")


def image_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup DECISION artifact, completing the image leg's
    fingerprint -> pairs -> clusters -> KEEPER chain (the text side's
    ``d_cluster_keeper`` shape): within every ``m_image_dup_clusters``
    component keep the HIGHEST-RESOLUTION copy (n_pixels, doc_id
    tiebreak) -- the standard rule for re-encoded/re-exposed image dups,
    where the component-minimum id would happily keep a thumbnail.
    Emits (doc_id, cluster_id, n_pixels, keeper_id, kept) per clustered
    image; ``kept = 0`` rows are the drop list.

    Scale shape: labels come from the pair graph (the image table is
    untouched), one join to per-image geometry metadata (|clustered|
    rows), one window per cluster."""
    from pyspark.sql import Window

    clusters = _nd_clusters(spark, sf_dir)
    geo = _pgm_of(_neardup_corpus(spark, sf_dir)).select("doc_id", "n_pixels")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_pixels"), "doc_id")
    return (
        clusters.join(geo, "doc_id")
        .withColumn("keeper_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_pixels",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).cast("int").alias("kept"),
        )
        .orderBy("doc_id")
    )


def image_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (online) image admission -- the production shape of
    the image-dedup leg, mirroring ``d_incremental_neardup``: a standing
    100 TB image corpus is never re-deduped against itself; each arriving
    batch is checked against the corpus's banded aHash index and admitted
    or matched. The twin-augmented corpus provides the arrival split for
    free: the perturbed re-uploads (doc_id >= ``_ND_TWIN_BASE``) ARE the
    incoming batch, the natural docs the standing corpus.

    Per batch image: its BEST corpus match among banded candidates that
    pass the exact verify (hamming <= 7, both >= 8 bright blocks), argmin
    under (hamming ASC, corpus doc ASC); novel images carry NULL match
    columns and is_novel = 1.

    Scale shape: an ASYMMETRIC equi-join -- batch postings (small)
    against corpus postings on nonzero (band, val); no self-join, cost
    linear in the batch for a fixed corpus, and the corpus postings are
    the maintained index artifact at scale. Within-batch duplicates are
    ``m_image_neardup``'s separate pass, exactly like the text split.

    Band-width rule (probe-backed, SCALING.md round-10): 8-bit bands
    have only 8 x 255 nonzero posting keys, so per-key lists grow
    linearly with the corpus and candidates quadratically (measured:
    warm admission 4.4 s at 20k docs -> 38.7 s at 80k). Past ~100k
    images the band width must grow ~log(corpus) (16/24-bit bands, or
    band over a wider perceptual hash) to keep lists bounded -- kept
    8-bit HERE because recall at hamming <= 7 over 8 bands is
    pigeonhole-exact, which fewer/wider bands would forfeit."""
    from pyspark.sql import Window as _W

    ah = _ahash_table(spark, sf_dir)
    is_batch = F.col("doc_id") >= _ND_TWIN_BASE
    corpus, batch = ah.filter(~is_batch), ah.filter(is_batch)
    cand = (
        _ahash_bands(batch)
        .alias("n")
        .join(
            _ahash_bands(corpus).alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.val") == F.col("c.val")),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("cand_doc"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )
    x, y = batch.alias("x"), corpus.alias("y")
    hamming = F.bit_count(F.expr("x.ahash_hi ^ y.ahash_hi")) + F.bit_count(
        F.expr("x.ahash_lo ^ y.ahash_lo")
    )
    best = (
        cand.join(x, F.col("new_doc") == F.col("x.doc_id"))
        .join(y, F.col("cand_doc") == F.col("y.doc_id"))
        .filter(
            (hamming <= _ND_HAMMING_MAX)
            & (
                F.least(
                    F.col("x.n_bright_blocks"), F.col("y.n_bright_blocks")
                )
                >= _ND_MIN_BRIGHT
            )
        )
        .select(
            "new_doc",
            "cand_doc",
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            hamming.cast("int").alias("hamming"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("new_doc").orderBy("hamming", "cand_doc")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        batch.select(F.col("doc_id").alias("new_doc"))
        .join(best, "new_doc", "left")
        .select(
            "new_doc",
            F.col("cand_doc").alias("matched_doc"),
            "n_shared_bands",
            "hamming",
            F.col("cand_doc").isNull().cast("int").alias("is_novel"),
        )
        .orderBy("new_doc")
    )


def _afp_bands(fps: DataFrame) -> DataFrame:
    """Nonzero 8-bit-band postings (doc_id, band, val) over the 63-bit
    audio fingerprints -- the audio twin of ``_ahash_bands``, shared by
    the batch self-join (``audio_neardup``) and the incremental
    admission's asymmetric join (``audio_incremental``)."""
    band_structs = ", ".join(
        f"struct({i} as band, shiftright(fp, {8 * i}) & 255 as val)"
        for i in range(8)
    )
    return (
        fps.select(
            "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("s")
        )
        .select("doc_id", "s.band", "s.val")
        .filter(F.col("val") != 0)
    )


def audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate PAIRS over the energy-delta fingerprints --
    the audio leg of the same banded-LSH pipeline as ``image_neardup``,
    completing the text/image/audio dedup triple end to end
    (fingerprint -> candidate pairs on all three modalities):

    1. fingerprint the twin-augmented corpus (same 'e' -> 'E' twin
       transform; the energy-delta bit string is sign-of-difference, so
       a roughly proportional energy inflation preserves most steps --
       probe: ALL 500 sf0.1 twins land within hamming 7);
    2. band the 63 fingerprint bits into eight 8-bit bands, keep
       NONZERO (band, value) postings (a zero band past a short clip's
       last frame is shared absence -- the same structural hub as the
       image side's empty blocks);
    3. equi-join postings on (band, value);
    4. verify exactly: bit_count(fp_a ^ fp_b) <= 7, both fingerprints
       carrying >= 8 rising steps (the entropy gate: near-empty bit
       strings sit at tiny distances by construction).

    Same pigeonhole recall argument and the same property/brute-force
    tests as the image key; the DuckDB oracle rebuilds frame energies,
    fingerprints, bands, candidates and the verify from the raw text."""
    fps = _afp_table(spark, sf_dir)
    bands = _afp_bands(fps)
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )
    x, y = fps.alias("x"), fps.alias("y")
    hamming = F.bit_count(F.expr("x.fp ^ y.fp"))
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .filter(
            (hamming <= _ND_HAMMING_MAX)
            & (
                F.least(F.col("x.n_rising"), F.col("y.n_rising"))
                >= _ND_MIN_BRIGHT
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            hamming.cast("int").alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES = {
    "m_audio_fingerprint": audio_fingerprint,
    "m_image_ahash": image_ahash,
    "m_image_neardup": image_neardup,
    "m_audio_neardup": audio_neardup,
    "m_binary_metadata": binary_metadata,
    "m_image_features": image_features,
    "m_image_resize": image_resize,
    "m_frame_sample": frame_sample,
    "m_audio_chunks": audio_chunks,
    "m_audio_features": audio_features,
}

ORACLES = {
    # Full independent rebuild of the near-dup pipeline: the augmented
    # corpus (twin = replace 'e'->'E' under doc_id + BASE), the aHash
    # grid from first principles (same reconstruction as the
    # m_image_ahash oracle, over `aug`), the nonzero 8-bit band inverted
    # index, the candidate equi-join, and the exact
    # bit_count(xor)+bright verify. `hashes` and `bands` are referenced
    # more than once, so both are MATERIALIZED (this DuckDB inlines
    # multiply-referenced CTEs -- the v_mmr_select exponential-expansion
    # lesson).
    "m_image_neardup": f"""
        WITH aug AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_ND_TWIN_BASE} AS doc_id,
                   replace(text, 'e', 'E') AS text
            FROM documents
            WHERE doc_id % {_ND_TWIN_MOD} = {_ND_TWIN_RES}
        ), meta AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n,
                   octet_length(encode(text)) % 64 + 1 AS width,
                   (octet_length(encode(text)) // 64) % 64 + 1 AS height
            FROM aug
        ), geo AS (
            SELECT doc_id, n, width, height,
                   width * height AS npix,
                   substring(text, 1, LEAST(n, width * height)) AS body
            FROM meta
        ), px AS (
            SELECT doc_id, width, height, npix,
                   list_concat(
                       list_transform(
                           list_filter(string_split_regex(body, ''),
                                       x -> x <> ''),
                           x -> ord(x)),
                       list_transform(range(npix - LEAST(n, npix)),
                                      x -> 32)) AS bytes_list
            FROM geo
        ), flat AS (
            SELECT doc_id, width, height, npix,
                   unnest(bytes_list) AS v,
                   generate_subscripts(bytes_list, 1) - 1 AS p
            FROM px
        ), blocks AS (
            SELECT doc_id, npix,
                   ((p // width) * 8 // height) * 8
                       + ((p % width) * 8 // width) AS blk,
                   CAST(SUM(v) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM flat
            GROUP BY doc_id, npix,
                     ((p // width) * 8 // height) * 8
                         + ((p % width) * 8 // width)
        ), tot AS (
            SELECT doc_id, CAST(SUM(s) AS BIGINT) AS total FROM blocks
            GROUP BY doc_id
        ), bits AS (
            SELECT b.doc_id, b.blk,
                   CASE WHEN b.s * b.npix > t.total * b.cnt
                        THEN 1 ELSE 0 END AS bit
            FROM blocks b JOIN tot t ON b.doc_id = t.doc_id
        ), hashes AS MATERIALIZED (
            SELECT doc_id,
                   CAST(SUM(bit) AS INTEGER) AS n_bright,
                   CAST(SUM(CASE WHEN bit = 1 AND blk >= 32
                                 THEN (CAST(1 AS BIGINT)
                                       << CAST(blk - 32 AS INTEGER))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN bit = 1 AND blk < 32
                                 THEN (CAST(1 AS BIGINT)
                                       << CAST(blk AS INTEGER))
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM bits GROUP BY doc_id
        ), bands AS MATERIALIZED (
            SELECT * FROM (
                SELECT doc_id, b.band,
                       (CASE WHEN b.band < 4
                             THEN lo >> CAST(8 * b.band AS INTEGER)
                             ELSE hi >> CAST(8 * (b.band - 4) AS INTEGER)
                        END) & 255 AS val
                FROM hashes
                CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
            ) WHERE val <> 0
        ), cand AS (
            SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_bands
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.val = r.val
                        AND l.doc_id < r.doc_id
            GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b, c.n_shared_bands,
               CAST(bit_count(xor(x.hi, y.hi))
                    + bit_count(xor(x.lo, y.lo)) AS INTEGER) AS hamming
        FROM cand c
        JOIN hashes x ON c.doc_a = x.doc_id
        JOIN hashes y ON c.doc_b = y.doc_id
        WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
                  <= {_ND_HAMMING_MAX}
          AND LEAST(x.n_bright, y.n_bright) >= {_ND_MIN_BRIGHT}
        ORDER BY doc_a, doc_b
    """,
    # Audio twin of the m_image_neardup oracle: the same augmented
    # corpus, the m_audio_fingerprint frame-energy reconstruction over
    # it, then nonzero 8-bit bands of the 63-bit fingerprint, the
    # candidate equi-join, and the exact bit_count(xor)+n_rising verify.
    # fps/bands MATERIALIZED (multi-referenced CTEs inline otherwise).
    "m_audio_neardup": f"""
        WITH aug AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_ND_TWIN_BASE} AS doc_id,
                   replace(text, 'e', 'E') AS text
            FROM documents
            WHERE doc_id % {_ND_TWIN_MOD} = {_ND_TWIN_RES}
        ), b AS (
            SELECT doc_id,
                   list_transform(list_filter(string_split_regex(text, ''),
                                              x -> x <> ''),
                                  x -> ord(x)) AS bytes_list
            FROM aug
        ), m AS (
            SELECT doc_id, bytes_list,
                   GREATEST(CAST(ceil(len(bytes_list) / 32.0) AS INTEGER),
                            1) AS n_chunks
            FROM b
        ), c AS (
            SELECT doc_id, bytes_list,
                   CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_idx
            FROM m
        ), e AS (
            SELECT doc_id, chunk_idx,
                   CAST(COALESCE(list_aggregate(
                       list_transform(
                           bytes_list[chunk_idx * 32 + 1
                                      : chunk_idx * 32 + 32],
                           x -> (x - 128) * (x - 128)),
                       'sum'), 0) AS BIGINT) AS energy
            FROM c
        ), d AS (
            SELECT doc_id, chunk_idx, energy,
                   LAG(energy) OVER (PARTITION BY doc_id
                                     ORDER BY chunk_idx) AS prev
            FROM e
        ), fps AS MATERIALIZED (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN chunk_idx BETWEEN 1 AND 63
                                      AND energy > prev
                                 THEN (CAST(1 AS BIGINT)
                                       << CAST(chunk_idx - 1 AS INTEGER))
                                 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN chunk_idx BETWEEN 1 AND 63
                                      AND energy > prev
                                 THEN 1 ELSE 0 END) AS INTEGER) AS n_rising
            FROM d GROUP BY doc_id
        ), bands AS MATERIALIZED (
            SELECT * FROM (
                SELECT doc_id, b2.band,
                       (fp >> CAST(8 * b2.band AS INTEGER)) & 255 AS val
                FROM fps
                CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b2
            ) WHERE val <> 0
        ), cand AS (
            SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_bands
            FROM bands l
            JOIN bands r ON l.band = r.band AND l.val = r.val
                        AND l.doc_id < r.doc_id
            GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b, c.n_shared_bands,
               CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
        FROM cand c
        JOIN fps x ON c.doc_a = x.doc_id
        JOIN fps y ON c.doc_b = y.doc_id
        WHERE bit_count(xor(x.fp, y.fp)) <= {_ND_HAMMING_MAX}
          AND LEAST(x.n_rising, y.n_rising) >= {_ND_MIN_BRIGHT}
        ORDER BY doc_a, doc_b
    """,
    # Energy-delta fingerprint mirror: same frame-energy reconstruction
    # SHAPE as the m_audio_features oracle but over 32-byte fingerprint
    # frames (_FP_FRAME -- not the 256-byte feature chunks), + a LAG
    # window, bit i-1 iff energy rises, capped at 63 bits. Every
    # emitted value BIGINT/INT.
    "m_audio_fingerprint": """
        WITH b AS (
            SELECT doc_id,
                   list_transform(list_filter(string_split_regex(text, ''),
                                              x -> x <> ''),
                                  x -> ord(x)) AS bytes_list
            FROM documents
        ), m AS (
            SELECT doc_id, bytes_list,
                   GREATEST(CAST(ceil(len(bytes_list) / 32.0) AS INTEGER),
                            1) AS n_chunks
            FROM b
        ), c AS (
            SELECT doc_id, bytes_list,
                   CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_idx
            FROM m
        ), e AS (
            SELECT doc_id, chunk_idx,
                   CAST(COALESCE(list_aggregate(
                       list_transform(
                           bytes_list[chunk_idx * 32 + 1
                                      : chunk_idx * 32 + 32],
                           x -> (x - 128) * (x - 128)),
                       'sum'), 0) AS BIGINT) AS energy
            FROM c
        ), d AS (
            SELECT doc_id, chunk_idx, energy,
                   LAG(energy) OVER (PARTITION BY doc_id
                                     ORDER BY chunk_idx) AS prev
            FROM e
        )
        SELECT doc_id,
               CAST(MAX(chunk_idx) + 1 AS INTEGER) AS n_chunks,
               CAST(SUM(CASE WHEN chunk_idx BETWEEN 1 AND 63
                                  AND energy > prev
                             THEN (CAST(1 AS BIGINT)
                                   << CAST(chunk_idx - 1 AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN chunk_idx BETWEEN 1 AND 63
                                  AND energy > prev
                             THEN 1 ELSE 0 END) AS INTEGER) AS n_rising
        FROM d GROUP BY doc_id ORDER BY doc_id
    """,
    # aHash mirror: same meta/geo/px reconstruction as m_image_features,
    # space-padded to the pixel plane (list_resize pad byte 32), block
    # index and brightness bit as the same integer expressions. Every
    # emitted value BIGINT/INT.
    "m_image_ahash": """
        WITH meta AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n,
                   octet_length(encode(text)) % 64 + 1 AS width,
                   (octet_length(encode(text)) // 64) % 64 + 1 AS height
            FROM documents
        ), geo AS (
            SELECT doc_id, n, width, height,
                   width * height AS npix,
                   substring(text, 1, LEAST(n, width * height)) AS body
            FROM meta
        ), px AS (
            -- space-pad (byte 32) to the pixel plane via list_concat +
            -- range: this DuckDB's list_resize crashes on full-table
            -- vectors (std::bad_array_new_length above ~50-row batches)
            SELECT doc_id, width, height, npix,
                   list_concat(
                       list_transform(
                           list_filter(string_split_regex(body, ''),
                                       x -> x <> ''),
                           x -> ord(x)),
                       list_transform(range(npix - LEAST(n, npix)),
                                      x -> 32)) AS bytes_list
            FROM geo
        ), flat AS (
            SELECT doc_id, width, height, npix,
                   unnest(bytes_list) AS v,
                   generate_subscripts(bytes_list, 1) - 1 AS p
            FROM px
        ), blocks AS (
            SELECT doc_id, width, height, npix,
                   ((p // width) * 8 // height) * 8
                       + ((p % width) * 8 // width) AS blk,
                   CAST(SUM(v) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM flat
            GROUP BY doc_id, width, height, npix,
                     ((p // width) * 8 // height) * 8
                         + ((p % width) * 8 // width)
        ), tot AS (
            SELECT doc_id, CAST(SUM(s) AS BIGINT) AS total FROM blocks
            GROUP BY doc_id
        ), bits AS (
            SELECT b.doc_id, b.blk,
                   CASE WHEN b.s * b.npix > t.total * b.cnt
                        THEN 1 ELSE 0 END AS bit
            FROM blocks b JOIN tot t ON b.doc_id = t.doc_id
        )
        SELECT doc_id,
               CAST(SUM(bit) AS INTEGER) AS n_bright_blocks,
               CAST(SUM(CASE WHEN bit = 1 AND blk >= 32
                             THEN (CAST(1 AS BIGINT)
                                   << CAST(blk - 32 AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS ahash_hi,
               CAST(SUM(CASE WHEN bit = 1 AND blk < 32
                             THEN (CAST(1 AS BIGINT) << CAST(blk AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS ahash_lo
        FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
    # Recomputes the exact 256 thumbnail bytes from first principles: the
    # same header math as m_image_features, then the floor index map
    # pos = (i*height//16)*width + (j*width_idx) over the padded plane
    # (positions past the body are the pad byte 32). md5 over the
    # re-assembled ASCII payload equals Spark's md5 over the binary
    # payload because the fixture text is ASCII (same assumption the
    # m_image_features oracle documents).
    "m_image_resize": """
        WITH meta AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n,
                   octet_length(encode(text)) % 64 + 1 AS width,
                   (octet_length(encode(text)) // 64) % 64 + 1 AS height
            FROM documents
        ), geo AS (
            SELECT doc_id, n, width, height,
                   substring(text, 1, LEAST(n, width * height)) AS body
            FROM meta
        ), px AS (
            SELECT doc_id, width, height,
                   list_transform(list_filter(string_split_regex(body, ''),
                                              x -> x <> ''),
                                  x -> ord(x)) AS bytes_list
            FROM geo
        ), rs AS (
            SELECT doc_id, width, height,
                   list_transform(range(0, 256), k ->
                       CASE WHEN ((k // 16) * height // 16) * width
                                 + ((k % 16) * width // 16) + 1
                                 <= len(bytes_list)
                            THEN bytes_list[((k // 16) * height // 16) * width
                                            + ((k % 16) * width // 16) + 1]
                            ELSE 32 END) AS sampled
            FROM px
        )
        SELECT doc_id,
               CAST(width AS INTEGER) AS width,
               CAST(height AS INTEGER) AS height,
               CAST(list_aggregate(sampled, 'sum') AS BIGINT) AS resized_sum,
               CAST(list_aggregate(sampled, 'max') AS INTEGER) AS resized_max,
               md5('P5' || chr(10) || '16 16' || chr(10) || '255' || chr(10)
                   || array_to_string(list_transform(sampled, x -> chr(x)),
                                      '')) AS resized_md5
        FROM rs
        ORDER BY doc_id
    """,
    "m_binary_metadata": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    # Recomputes the PGM pixel plane (document bytes truncated/space-padded
    # to width*height) byte-by-byte in SQL: the engine's numbers come from a
    # REAL binary container parse, the oracle's from first principles --
    # matching proves the decode is faithful. Documents are ASCII (asserted
    # by the charset probe in tests), so ord(char) == byte value.
    "m_image_features": """
        WITH meta AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n,
                   octet_length(encode(text)) % 64 + 1 AS width,
                   (octet_length(encode(text)) // 64) % 64 + 1 AS height
            FROM documents
        ), geo AS (
            SELECT doc_id, n, width, height,
                   substring(text, 1, LEAST(n, width * height)) AS body
            FROM meta
        ), px AS (
            SELECT doc_id, width, height, width * height AS npix,
                   GREATEST(0, width * height - n) AS pad,
                   -- filter '' before ord(): splitting an EMPTY body yields
                   -- [''] and ord('') is -1, which would skew the sum by -1
                   -- for zero-length documents (ASCII text never contains
                   -- an empty "char", so this is a no-op otherwise).
                   list_transform(list_filter(string_split_regex(body, ''),
                                              x -> x <> ''),
                                  x -> ord(x)) AS bytes_list
            FROM geo
        )
        SELECT doc_id,
               CAST(width AS INTEGER) AS width,
               CAST(height AS INTEGER) AS height,
               CAST(npix AS BIGINT) AS n_pixels,
               CAST(COALESCE(list_aggregate(bytes_list, 'sum'), 0) + 32 * pad
                    AS BIGINT) AS sum_intensity,
               CAST(GREATEST(COALESCE(list_aggregate(bytes_list, 'max'), 0),
                             CASE WHEN pad > 0 THEN 32 ELSE 0 END)
                    AS INTEGER) AS max_intensity,
               CAST(floor(((COALESCE(list_aggregate(bytes_list, 'sum'), 0)
                            + 32 * pad) * 1000.0) / npix) AS BIGINT)
                   AS mean_milli_intensity
        FROM px
        ORDER BY doc_id
    """,
    "m_frame_sample": """
        WITH meta AS (
            SELECT doc_id,
                   octet_length(encode(text)) % 120 + 1 AS duration_s,
                   LEAST((octet_length(encode(text)) % 120 + 1) * 2, 16) AS n_frames
            FROM documents
        )
        SELECT doc_id,
               CAST(duration_s AS BIGINT) AS duration_s,
               CAST(n_frames AS INTEGER) AS n_frames,
               CAST(unnest(range(0, n_frames)) AS INTEGER) AS frame_idx,
               CAST(floor(unnest(range(0, n_frames))
                          * (duration_s * 1000.0 / n_frames)) AS BIGINT) AS frame_ms
        FROM meta
        ORDER BY doc_id, frame_idx
    """,
    # Re-derives the same PCM-8 bytes from the text in SQL (ASCII fixture,
    # same assumption as the image oracles); all features exact integers.
    "m_audio_features": """
        WITH b AS (
            SELECT doc_id,
                   list_transform(list_filter(string_split_regex(text, ''),
                                              x -> x <> ''),
                                  x -> ord(x)) AS bytes_list
            FROM documents
        ), m AS (
            SELECT doc_id, bytes_list,
                   GREATEST(CAST(ceil(len(bytes_list) / 256.0) AS INTEGER),
                            1) AS n_chunks
            FROM b
        ), c AS (
            SELECT doc_id, bytes_list,
                   CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_idx
            FROM m
        ), seg AS (
            SELECT doc_id, chunk_idx,
                   bytes_list[chunk_idx * 256 + 1 : chunk_idx * 256 + 256]
                       AS s
            FROM c
        )
        SELECT doc_id, chunk_idx,
               CAST(len(s) AS INTEGER) AS n_samples,
               CAST(COALESCE(list_aggregate(
                        list_transform(s, x -> (x - 128) * (x - 128)),
                        'sum'), 0) AS BIGINT) AS energy,
               CAST(COALESCE(list_aggregate(
                        list_transform(s, x -> abs(x - 128)),
                        'max'), 0) AS INTEGER) AS peak
        FROM seg
        ORDER BY doc_id, chunk_idx
    """,
    "m_audio_chunks": """
        WITH meta AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(ceil(octet_length(encode(text)) / 256.0) AS INTEGER) AS n_chunks
            FROM documents
        )
        SELECT doc_id, n_bytes, n_chunks,
               CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_idx,
               CAST(unnest(range(0, n_chunks)) * 256 AS BIGINT) AS chunk_offset,
               LEAST(256, n_bytes - unnest(range(0, n_chunks)) * 256) AS chunk_len
        FROM meta
        ORDER BY doc_id, chunk_idx
    """,
}

QUERIES["m_image_dup_clusters"] = image_dup_clusters

# The d_dup_clusters recursive-closure shape nested over the FULL
# m_image_neardup pair rebuild: the oracle re-derives the pair graph from
# raw text (twin augmentation, aHash grid, bands, verify) and then walks
# the transitive closure -- component minimum per involved image, the
# exact fixpoint largestar_components computes.
ORACLES["m_image_dup_clusters"] = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({ORACLES["m_image_neardup"]})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["m_image_keeper"] = image_keeper

# d_cluster_keeper's oracle shape over the image leg: the clusters
# closure nested as a MATERIALIZED CTE, joined to the geometry metadata
# recomputed from the augmented corpus, keeper via FIRST_VALUE under the
# same (n_pixels DESC, doc_id) total order.
ORACLES["m_image_keeper"] = f"""
    WITH clusters AS MATERIALIZED ({ORACLES["m_image_dup_clusters"]}),
    geo AS (
        SELECT doc_id,
               CAST((octet_length(encode(text)) % 64 + 1)
                    * ((octet_length(encode(text)) // 64) % 64 + 1)
                    AS BIGINT) AS n_pixels
        FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_ND_TWIN_BASE} AS doc_id,
                   replace(text, 'e', 'E') AS text
            FROM documents
            WHERE doc_id % {_ND_TWIN_MOD} = {_ND_TWIN_RES}
        )
    )
    SELECT c.doc_id, c.cluster_id, g.n_pixels,
           FIRST_VALUE(c.doc_id) OVER (
               PARTITION BY c.cluster_id
               ORDER BY g.n_pixels DESC, c.doc_id) AS keeper_id,
           CAST(CASE WHEN c.doc_id = FIRST_VALUE(c.doc_id) OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY g.n_pixels DESC, c.doc_id)
                THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM clusters c JOIN geo g ON c.doc_id = g.doc_id
    ORDER BY c.doc_id
"""


def audio_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive audio-duplicate CLUSTERS: connected components over the
    verified ``m_audio_neardup`` pair graph via the shared star-contraction
    core -- the audio leg of the fingerprint -> pairs -> clusters chain,
    completing cluster symmetry across all three modalities. The sf0.1
    graph concentrates into one 463-clip near-clique (short clips share
    dense low bands), a contraction-friendly but broadcast-hostile shape.
    Same nested recursive-closure oracle as the image leg."""
    return _and_clusters(spark, sf_dir).orderBy("doc_id")


def audio_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-dedup DECISION artifact: within every ``m_audio_dup_clusters``
    component keep the LONGEST clip (n_chunks DESC, doc_id tiebreak) --
    the full recording wins over its excerpt/re-encode, the audio analog
    of ``m_image_keeper``'s highest-resolution rule. Emits (doc_id,
    cluster_id, n_chunks, keeper_id, kept); kept = 0 rows are the drop
    list. Labels come from the cached pair-graph contraction; one join to
    per-clip length metadata and one window per cluster."""
    from pyspark.sql import Window

    clusters = _and_clusters(spark, sf_dir)
    media = _neardup_corpus(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    lens = media.select(
        "doc_id",
        F.greatest(
            F.ceil(F.octet_length("payload") / _FP_FRAME).cast("int"),
            F.lit(1),
        ).alias("n_chunks"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chunks"), "doc_id")
    return (
        clusters.join(lens, "doc_id")
        .withColumn("keeper_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_chunks",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).cast("int").alias("kept"),
        )
        .orderBy("doc_id")
    )


QUERIES["m_audio_dup_clusters"] = audio_dup_clusters
QUERIES["m_audio_keeper"] = audio_keeper

# Audio twins of the image-leg oracles: the same recursive closure and
# FIRST_VALUE keeper shapes nested over the m_audio_neardup pair rebuild.
ORACLES["m_audio_dup_clusters"] = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({ORACLES["m_audio_neardup"]})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["m_audio_keeper"] = f"""
    WITH clusters AS MATERIALIZED ({ORACLES["m_audio_dup_clusters"]}),
    lens AS (
        SELECT doc_id,
               CAST(GREATEST(ceil(octet_length(encode(text)) / 32.0),
                             1) AS INTEGER) AS n_chunks
        FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_ND_TWIN_BASE} AS doc_id,
                   replace(text, 'e', 'E') AS text
            FROM documents
            WHERE doc_id % {_ND_TWIN_MOD} = {_ND_TWIN_RES}
        )
    )
    SELECT c.doc_id, c.cluster_id, l.n_chunks,
           FIRST_VALUE(c.doc_id) OVER (
               PARTITION BY c.cluster_id
               ORDER BY l.n_chunks DESC, c.doc_id) AS keeper_id,
           CAST(CASE WHEN c.doc_id = FIRST_VALUE(c.doc_id) OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY l.n_chunks DESC, c.doc_id)
                THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM clusters c JOIN lens l ON c.doc_id = l.doc_id
    ORDER BY c.doc_id
"""

QUERIES["m_image_incremental"] = image_incremental

# d_incremental_neardup's oracle shape on the image leg, composed over
# the FULL m_image_neardup pair rebuild: every corpus->batch pair in the
# symmetric pair relation has doc_a in the corpus and doc_b in the batch
# (twin ids sit above every natural id at any SF), so the admission view
# is a rank-1 filter per batch image under (hamming ASC, corpus doc ASC)
# left-joined back to the whole batch.
ORACLES["m_image_incremental"] = f"""
    WITH pairs AS MATERIALIZED (SELECT * FROM ({ORACLES["m_image_neardup"]})),
    best AS (
        SELECT doc_b AS new_doc, doc_a AS matched_doc,
               n_shared_bands, hamming,
               ROW_NUMBER() OVER (PARTITION BY doc_b
                                  ORDER BY hamming, doc_a) AS rn
        FROM pairs
        WHERE doc_b >= {_ND_TWIN_BASE} AND doc_a < {_ND_TWIN_BASE}
    ),
    batch AS (
        SELECT doc_id + {_ND_TWIN_BASE} AS new_doc FROM documents
        WHERE doc_id % {_ND_TWIN_MOD} = {_ND_TWIN_RES}
    )
    SELECT b.new_doc, s.matched_doc, s.n_shared_bands,
           CAST(s.hamming AS INTEGER) AS hamming,
           CAST(CASE WHEN s.matched_doc IS NULL THEN 1 ELSE 0 END
                AS INTEGER) AS is_novel
    FROM batch b
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) s USING (new_doc)
    ORDER BY new_doc
"""


def audio_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (online) audio admission -- ``m_image_incremental``'s
    shape on the audio leg, completing incremental symmetry across the
    text/image/audio triple (``d_incremental_neardup`` /
    ``m_image_incremental`` / here): the perturbed re-uploads
    (doc_id >= ``_ND_TWIN_BASE``) are the arriving batch, checked
    against the standing corpus's banded fingerprint index; best corpus
    match by (hamming ASC, corpus doc ASC) under the exact verify
    (bit_count(fp^fp) <= 7, both >= 8 rising steps), novel clips
    flagged. Asymmetric join: batch postings vs corpus postings, never
    a self-join -- linear in the batch for a fixed corpus."""
    from pyspark.sql import Window as _W

    fps = _afp_table(spark, sf_dir)
    is_batch = F.col("doc_id") >= _ND_TWIN_BASE
    corpus, batch = fps.filter(~is_batch), fps.filter(is_batch)
    cand = (
        _afp_bands(batch)
        .alias("n")
        .join(
            _afp_bands(corpus).alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.val") == F.col("c.val")),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("cand_doc"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )
    x, y = batch.alias("x"), corpus.alias("y")
    hamming = F.bit_count(F.expr("x.fp ^ y.fp"))
    best = (
        cand.join(x, F.col("new_doc") == F.col("x.doc_id"))
        .join(y, F.col("cand_doc") == F.col("y.doc_id"))
        .filter(
            (hamming <= _ND_HAMMING_MAX)
            & (F.least(F.col("x.n_rising"), F.col("y.n_rising")) >= _ND_MIN_BRIGHT)
        )
        .select(
            "new_doc",
            "cand_doc",
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            hamming.cast("int").alias("hamming"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("new_doc").orderBy("hamming", "cand_doc")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        batch.select(F.col("doc_id").alias("new_doc"))
        .join(best, "new_doc", "left")
        .select(
            "new_doc",
            F.col("cand_doc").alias("matched_doc"),
            "n_shared_bands",
            "hamming",
            F.col("cand_doc").isNull().cast("int").alias("is_novel"),
        )
        .orderBy("new_doc")
    )


QUERIES["m_audio_incremental"] = audio_incremental

# The m_image_incremental oracle composition on the audio leg: every
# corpus->batch pair in the symmetric m_audio_neardup relation has doc_a
# in the corpus and doc_b in the batch (twin ids clear every natural id),
# rank-1 per batch clip under (hamming ASC, corpus doc ASC), left-joined
# back to the whole batch.
ORACLES["m_audio_incremental"] = f"""
    WITH pairs AS MATERIALIZED (SELECT * FROM ({ORACLES["m_audio_neardup"]})),
    best AS (
        SELECT doc_b AS new_doc, doc_a AS matched_doc,
               n_shared_bands, hamming,
               ROW_NUMBER() OVER (PARTITION BY doc_b
                                  ORDER BY hamming, doc_a) AS rn
        FROM pairs
        WHERE doc_b >= {_ND_TWIN_BASE} AND doc_a < {_ND_TWIN_BASE}
    ),
    batch AS (
        SELECT doc_id + {_ND_TWIN_BASE} AS new_doc FROM documents
        WHERE doc_id % {_ND_TWIN_MOD} = {_ND_TWIN_RES}
    )
    SELECT b.new_doc, s.matched_doc, s.n_shared_bands,
           CAST(s.hamming AS INTEGER) AS hamming,
           CAST(CASE WHEN s.matched_doc IS NULL THEN 1 ELSE 0 END
                AS INTEGER) AS is_novel
    FROM batch b
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) s USING (new_doc)
    ORDER BY new_doc
"""


def av_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal duplicate CONSENSUS: the near-dup pairs confirmed by
    BOTH the image leg (banded aHash + hamming verify) and the audio leg
    (banded energy-delta fingerprint + hamming verify) over the same
    twin-augmented corpus. Production multimodal curation uses exactly
    this agreement rule to raise dedup precision before dropping data:
    a single perceptual hash family has structural false positives
    (near-empty images at small hamming, short clips sharing dense low
    bands), but the two families' false positives are nearly disjoint,
    so the intersection keeps the true re-uploads and sheds the noise
    (the per-modality keys keep the recall view).

    Emitted as the full agreement MATRIX (outer join of the two pair
    relations, per-modality membership flags, ``consensus = 1`` on the
    intersection) rather than the bare intersection: the disagreement
    rows are the operational signal -- they are what a curation run
    inspects to calibrate each modality's threshold, and on the fixture
    corpus they dominate (the intersection is deliberately strict).

    Shape: an equi-join of the two (tiny) verified pair relations on
    (doc_a, doc_b) -- the expensive pipelines are the inputs, already
    banded/blocked; the consensus itself shuffles pairs, never media."""
    img = image_neardup(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.col("hamming").alias("hamming_image"),
    )
    aud = audio_neardup(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.col("hamming").alias("hamming_audio"),
    )
    in_img = F.col("hamming_image").isNotNull()
    in_aud = F.col("hamming_audio").isNotNull()
    return (
        img.join(aud, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            "hamming_image",
            "hamming_audio",
            in_img.cast("int").alias("in_image"),
            in_aud.cast("int").alias("in_audio"),
            (in_img & in_aud).cast("int").alias("consensus"),
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES["m_av_consensus"] = av_consensus

# Full-outer equi-join of the two full pair-pipeline rebuilds on
# (doc_a, doc_b) -- the oracle pays both reconstructions, the engine
# both pipelines.
ORACLES["m_av_consensus"] = f"""
    WITH ipairs AS MATERIALIZED (SELECT * FROM ({ORACLES["m_image_neardup"]})),
    apairs AS MATERIALIZED (SELECT * FROM ({ORACLES["m_audio_neardup"]}))
    SELECT COALESCE(i.doc_a, a.doc_a) AS doc_a,
           COALESCE(i.doc_b, a.doc_b) AS doc_b,
           CAST(i.hamming AS INTEGER) AS hamming_image,
           CAST(a.hamming AS INTEGER) AS hamming_audio,
           CAST(CASE WHEN i.hamming IS NULL THEN 0 ELSE 1 END
                AS INTEGER) AS in_image,
           CAST(CASE WHEN a.hamming IS NULL THEN 0 ELSE 1 END
                AS INTEGER) AS in_audio,
           CAST(CASE WHEN i.hamming IS NOT NULL AND a.hamming IS NOT NULL
                THEN 1 ELSE 0 END AS INTEGER) AS consensus
    FROM ipairs i
    FULL OUTER JOIN apairs a
        ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
    ORDER BY 1, 2
"""


_SCENE_CUT_MEAN_DELTA = 8  # mean-byte units; exact via cross-multiplication


def scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary (scene-change) detection over the sampled video
    frames -- the analysis stage downstream of ``m_frame_sample``'s
    plumbing: a frame boundary is a CUT when the mean pixel value jumps
    by more than ``_SCENE_CUT_MEAN_DELTA`` between consecutive frames
    (threshold-on-frame-delta, the classic pixel-domain shot detector).
    Frame geometry is frame_sample's: duration = n % 120 + 1 seconds,
    n_frames = min(2 fps x duration, 16); frame f covers the byte span
    [floor(f*n/nf), floor((f+1)*n/nf)) of the payload (the fixture's
    video plane is the document byte stream, ASCII by the charset probe,
    so char codes ARE the byte values on both engines).

    Exactness design: per-frame (energy, count) are integer sums; the
    cut predicate |e_f/c_f - e_g/c_g| > T is evaluated cross-multiplied
    in BIGINTs (the weighted-median trick) -- no float ever forms, so
    the oracle match is exact by construction.

    Scale shape: the whole detector is ONE projection of array HOFs
    (split -> ascii -> per-frame aggregate(slice) -> explode of the
    nf-1 comparisons) -- scan-speed JVM codegen, zero Python, zero
    shuffle except the output sort; at 100 TB with real codecs the
    per-frame energy comes from the decode UDF (m_image_features'
    stage) and THIS key's compare/explode shape is unchanged."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.expr(
                "transform(filter(split(text, ''), c -> c <> ''), "
                "c -> cast(ascii(c) as bigint))"
            ).alias("codes"),
        )
        .withColumn("n", F.size("codes").cast("bigint"))
        .filter(F.col("n") >= 16)
        .withColumn("nf", F.least((F.col("n") % 120 + 1) * 2, F.lit(16)))
    )
    framed = docs.select(
        "doc_id",
        "nf",
        F.expr(
            "transform(sequence(0, cast(nf - 1 as int)), f -> "
            "aggregate(slice(codes, cast(f * n div nf as int) + 1, "
            "cast((f + 1) * n div nf - f * n div nf as int)), "
            "0L, (a, x) -> a + x))"
        ).alias("es"),
        F.expr(
            "transform(sequence(0, cast(nf - 1 as int)), f -> "
            "(f + 1) * n div nf - f * n div nf)"
        ).alias("cs"),
    )
    t = _SCENE_CUT_MEAN_DELTA
    return (
        framed.select(
            "doc_id",
            "es",
            "cs",
            F.explode(
                F.expr("sequence(1, cast(nf - 1 as int))")
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.expr(
                f"""cast(case when abs(element_at(es, frame_idx + 1)
                                       * element_at(cs, frame_idx)
                                   - element_at(es, frame_idx)
                                       * element_at(cs, frame_idx + 1))
                               > {t} * element_at(cs, frame_idx)
                                     * element_at(cs, frame_idx + 1)
                          then 1 else 0 end as int)"""
            ).alias("is_cut"),
        )
        .orderBy("doc_id", "frame_idx")
    )


QUERIES["m_scene_changes"] = scene_changes

# Full SQL mirror: same char-code plane, same frame geometry, same
# integer cross-multiplied cut predicate (DuckDB lists are 1-based like
# element_at; range(0, nf) excludes nf like sequence(0, nf-1) includes
# nf-1 -- bounds verified by the shared formulas, not by luck: both
# sides compute floor(f*n/nf) spans).
ORACLES["m_scene_changes"] = f"""
    WITH codes AS (
        SELECT doc_id,
               list_transform(list_filter(string_split_regex(text, ''),
                                          c -> c <> ''),
                              c -> CAST(ord(c) AS BIGINT)) AS codes
        FROM documents WHERE text IS NOT NULL
    ), geo AS (
        SELECT doc_id, codes, len(codes) AS n,
               LEAST((len(codes) % 120 + 1) * 2, 16) AS nf
        FROM codes WHERE len(codes) >= 16
    ), framed AS (
        SELECT doc_id, nf,
               list_transform(range(0, nf), f ->
                   CAST(list_sum(codes[(f * n) // nf + 1 :
                                       ((f + 1) * n) // nf]) AS BIGINT))
                   AS es,
               list_transform(range(0, nf), f ->
                   ((f + 1) * n) // nf - (f * n) // nf) AS cs
        FROM geo
    )
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(CASE WHEN abs(es[f + 1] * cs[f] - es[f] * cs[f + 1])
                          > {_SCENE_CUT_MEAN_DELTA} * cs[f] * cs[f + 1]
                THEN 1 ELSE 0 END AS INTEGER) AS is_cut
    FROM framed, unnest(range(1, nf)) AS u(f)
    ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# Video near-duplicate leg: exact per-frame signature matching.
#
# Twin recipe: every doc with doc_id % 10 == 7 gains a twin at doc_id +
# 4_000_000 whose MIDDLE character is overwritten with 'Q' -- the
# one-corrupted-frame shape (a transcode glitch, a watermark overlay on a
# single frame). Length is preserved, so the frame geometry is identical
# and the twin shares EXACTLY 15 of its 16 frame signatures (16 when the
# middle char already was 'Q'). Measured on both fixture SFs: twin recall
# 48/48 and 46/46 at n_shared >= 12, ZERO natural pairs, and a few
# hundred candidate pairs from the posting join (vs ~131k all-pairs) --
# exact frame signatures are high-entropy enough that coincidental
# matches are rare and 12-of-16 coincidences nonexistent. (On LOW-entropy
# frames that stops holding -- see the f_wsum note in _video_frames_of.)
_VD_TWIN_MOD, _VD_TWIN_RES, _VD_TWIN_BASE = 10, 7, 4_000_000
# Verify gate: >= 12 of the 16 frame signatures identical. Recall at the
# gate is exact BY CONSTRUCTION: the posting join finds every pair
# sharing >= 1 frame, a superset of every pair sharing >= 12.
_VD_MIN_SHARED = 12


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + one-corrupted-character twins (middle char -> 'Q')."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    twins = docs.filter(F.col("doc_id") % _VD_TWIN_MOD == _VD_TWIN_RES).select(
        (F.col("doc_id") + _VD_TWIN_BASE).alias("doc_id"),
        F.expr(
            "concat(substring(text, 1, length(text) div 2), 'Q', "
            "substring(text, length(text) div 2 + 2, length(text)))"
        ).alias("text"),
    )
    return docs.unionByName(twins)


def _video_frames_of(docs: DataFrame) -> DataFrame:
    """Per-frame video signature table (doc_id, frame_idx, f_len,
    f_energy, f_wsum) for FULL-LENGTH clips (nf == 16, i.e. n % 120 >= 7
    under frame_sample's geometry -- the min-duration gate every
    production video fingerprinter applies). Frame f covers the byte
    span [floor(f*n/16), floor((f+1)*n/16)) of the payload; its
    signature is the exact integer triple (span length, span energy,
    POSITION-WEIGHTED span sum) -- scene_changes' char-code plane, so
    parity with the SQL mirror is already proven there.

    The weighted sum (sum of i*code_i, i 1-based within the frame) is
    load-bearing for scale, not decoration: the r10c probe measured
    plain (len, energy) signatures SATURATING on a low-entropy corpus
    (synthetic 10-char frames: 12,392 posting keys for 1.6M frames,
    max list 1,090, 398M candidate pairs at 100k docs -- quadratic
    blowup), while the weighted term multiplies the key space by the
    frame's internal-order entropy and collapses coincidental
    collisions (SCALING.md round-10 continuation, batch 3). ONE
    codegen'd HOF projection + explode: zero Python, zero shuffle."""
    return (
        docs.select(
            "doc_id",
            F.expr(
                "transform(filter(split(text, ''), c -> c <> ''), "
                "c -> cast(ascii(c) as bigint))"
            ).alias("codes"),
        )
        .withColumn("n", F.size("codes").cast("bigint"))
        .filter((F.col("n") >= 16) & (F.col("n") % 120 >= 7))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, 15), f -> struct("
                    "cast(f as int) as frame_idx, "
                    "cast((f + 1) * n div 16 - f * n div 16 as bigint) as f_len, "
                    "aggregate(slice(codes, cast(f * n div 16 as int) + 1, "
                    "cast((f + 1) * n div 16 - f * n div 16 as int)), "
                    "0L, (a, x) -> a + x) as f_energy, "
                    "aggregate(slice(codes, cast(f * n div 16 as int) + 1, "
                    "cast((f + 1) * n div 16 - f * n div 16 as int)), "
                    "named_struct('s', 0L, 'i', 1L), "
                    "(a, x) -> named_struct('s', a.s + a.i * x, 'i', a.i + 1), "
                    "a -> a.s) as f_wsum))"
                )
            ).alias("fr"),
        )
        .select("doc_id", "fr.frame_idx", "fr.f_len", "fr.f_energy", "fr.f_wsum")
    )


def video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame video fingerprint table over the natural corpus -- the
    video leg's analog of ``m_image_ahash``/``m_audio_fingerprint``: the
    persisted artifact a near-dup pass joins on. Kept LONG (one row per
    frame) rather than packed into a 64-bit word: exact integer frame
    signatures are what make the pairing below threshold-free, and at
    100 TB the long table is the posting list itself (partition by a
    hash of the signature quadruple and the pairing join is
    co-located)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    return _video_frames_of(docs).orderBy("doc_id", "frame_idx")


def video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate PAIRS by exact per-frame signature matching,
    completing the near-dup triple's video leg (text: d_ngram_jaccard,
    image: m_image_neardup, audio: m_audio_neardup): two full-length
    clips are near-dups when >= 12 of their 16 per-frame signatures
    (frame_idx, span length, span energy) are IDENTICAL -- the
    frame-matching shape real video dedup uses (match exact per-frame
    hashes, require a long run of agreement), here with the frame hash
    being the exact integer signature so no threshold tuning exists to
    get wrong.

    Pipeline: (1) frame the twin-augmented corpus (one corrupted middle
    character -- see _VD_TWIN_*); (2) posting join on the exact
    quadruple (frame_idx, f_len, f_energy, f_wsum) -- candidate work is
    sum(posting-list^2), never |docs|^2; (3) keep pairs sharing >=
    _VD_MIN_SHARED frames. Recall at the gate is exact by construction
    (any pair sharing >= 12 frames shares >= 1, so the posting join
    cannot miss it); the property test brute-forces all-pairs equality.

    Scale shape: the pairing is an inverted-index equi-join + count
    aggregate, the d_ngram_jaccard shape exactly. The posting key MUST
    carry more entropy than log2(16 x corpus) or the lists hub up: the
    r10c probe measured the plain (len, energy) pair saturating on a
    low-entropy synthetic corpus (12,392 keys / 398M candidate pairs at
    100k docs), which is why the position-weighted sum is part of the
    signature (SCALING.md round-10 continuation, batch 3); residual
    constant-frame hubs would take the text leg's posting cap."""
    fr = _vframes_table(spark, sf_dir)
    return (
        fr.alias("l")
        .join(
            fr.alias("r"),
            (F.col("l.frame_idx") == F.col("r.frame_idx"))
            & (F.col("l.f_len") == F.col("r.f_len"))
            & (F.col("l.f_energy") == F.col("r.f_energy"))
            & (F.col("l.f_wsum") == F.col("r.f_wsum"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_frames"))
        .filter(F.col("n_shared_frames") >= _VD_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


QUERIES["m_video_fingerprint"] = video_fingerprint
QUERIES["m_video_neardup"] = video_neardup

# Full SQL mirrors: same char-code plane and floor(f*n/16) spans as the
# m_scene_changes oracle (1-based list slices, // floor division); the
# twin corpus is rebuilt inline with the same substr composition.
ORACLES["m_video_fingerprint"] = """
    WITH codes AS (
        SELECT doc_id,
               list_transform(list_filter(string_split_regex(text, ''),
                                          c -> c <> ''),
                              c -> CAST(ord(c) AS BIGINT)) AS codes
        FROM documents WHERE text IS NOT NULL
    ), geo AS (
        SELECT doc_id, codes, len(codes) AS n
        FROM codes WHERE len(codes) >= 16 AND len(codes) % 120 >= 7
    )
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(((f + 1) * n) // 16 - (f * n) // 16 AS BIGINT) AS f_len,
           CAST(list_sum(codes[(f * n) // 16 + 1 : ((f + 1) * n) // 16])
                AS BIGINT) AS f_energy,
           CAST(list_sum(list_transform(
                    codes[(f * n) // 16 + 1 : ((f + 1) * n) // 16],
                    (x, i) -> i * x)) AS BIGINT) AS f_wsum
    FROM geo, unnest(range(0, 16)) AS u(f)
    ORDER BY doc_id, frame_idx
"""

ORACLES["m_video_neardup"] = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 4000000,
               substr(text, 1, length(text) // 2) || 'Q' ||
                   substr(text, length(text) // 2 + 2, length(text))
        FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 7
    ), codes AS (
        SELECT doc_id,
               list_transform(list_filter(string_split_regex(text, ''),
                                          c -> c <> ''),
                              c -> CAST(ord(c) AS BIGINT)) AS codes
        FROM corpus
    ), geo AS (
        SELECT doc_id, codes, len(codes) AS n
        FROM codes WHERE len(codes) >= 16 AND len(codes) % 120 >= 7
    ), frames AS (
        SELECT doc_id,
               f AS frame_idx,
               ((f + 1) * n) // 16 - (f * n) // 16 AS f_len,
               list_sum(codes[(f * n) // 16 + 1 : ((f + 1) * n) // 16])
                   AS f_energy,
               list_sum(list_transform(
                   codes[(f * n) // 16 + 1 : ((f + 1) * n) // 16],
                   (x, i) -> i * x)) AS f_wsum
        FROM geo, unnest(range(0, 16)) AS u(f)
    )
    SELECT l.doc_id AS doc_a,
           r.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_frames
    FROM frames l
    JOIN frames r
      ON l.frame_idx = r.frame_idx
     AND l.f_len = r.f_len
     AND l.f_energy = r.f_energy
     AND l.f_wsum = r.f_wsum
     AND l.doc_id < r.doc_id
    GROUP BY l.doc_id, r.doc_id
    HAVING COUNT(*) >= 12
    ORDER BY doc_a, doc_b
"""


@artifact(
    setup="video_frames",
    used_by=(
        "m_video_neardup",
        "m_video_incremental",
        "m_video_dup_clusters",
        "m_video_keeper",
    ),
)
def _vframes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame signature table of the twin-augmented video corpus -- the
    video twin of ``_ahash_table``/``_afp_table`` (round-10 optimization):
    consumed by ``m_video_neardup``, ``m_video_incremental`` and the
    ``_vnd_clusters`` build, so the HOF framing projection over the
    corpus runs ONCE per session instead of once per key. At 100 TB this
    IS the persisted frame-signature index the pairing joins against."""
    return _video_frames_of(_video_corpus(spark, sf_dir)).localCheckpoint()


@artifact(
    setup="video_nd_clusters", used_by=("m_video_dup_clusters", "m_video_keeper")
)
def _vnd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video twin of ``_nd_clusters``: star-contraction labels over the
    verified ``m_video_neardup`` pair graph, shared by the video clusters
    and keeper keys. Unlike the audio leg's near-clique, the exact-frame
    pair graph is all 2-node twin components on the fixtures -- the easy
    topology; the shared core is used for uniformity (and because a real
    corpus's re-encode chains A~B~C make the closure non-trivial
    immediately)."""
    from .dedup import largestar_components

    pairs = video_neardup(spark, sf_dir).select("doc_a", "doc_b")
    return largestar_components(pairs).localCheckpoint()


def video_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive video-duplicate CLUSTERS over the verified
    ``m_video_neardup`` pair graph via the shared star-contraction core,
    completing cluster symmetry across all four near-dup legs (text,
    image, audio, video). Same nested recursive-closure oracle as the
    other legs."""
    return _vnd_clusters(spark, sf_dir).orderBy("doc_id")


def video_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-dedup DECISION artifact: within every component keep the
    LONGEST clip (duration == payload length under frame_sample's
    geometry; n_chars DESC, doc_id tiebreak). The corruption twins
    preserve length exactly, so on the fixtures the rule falls through
    to the doc_id tiebreak and the NATURAL clip wins over its corrupted
    twin -- which is precisely the curation intent. Emits (doc_id,
    cluster_id, n_chars, keeper_id, kept); kept = 0 rows are the drop
    list."""
    from pyspark.sql import Window

    clusters = _vnd_clusters(spark, sf_dir)
    lens = _video_corpus(spark, sf_dir).select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (
        clusters.join(lens, "doc_id")
        .withColumn("keeper_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).cast("int").alias("kept"),
        )
        .orderBy("doc_id")
    )


QUERIES["m_video_dup_clusters"] = video_dup_clusters
QUERIES["m_video_keeper"] = video_keeper

# Video twins of the image/audio-leg oracles: the same recursive closure
# and FIRST_VALUE keeper shapes nested over the m_video_neardup rebuild.
ORACLES["m_video_dup_clusters"] = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({ORACLES["m_video_neardup"]})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["m_video_keeper"] = f"""
    WITH clusters AS MATERIALIZED ({ORACLES["m_video_dup_clusters"]}),
    lens AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
        FROM (
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id + {_VD_TWIN_BASE} AS doc_id,
                   substr(text, 1, length(text) // 2) || 'Q' ||
                       substr(text, length(text) // 2 + 2, length(text))
                   AS text
            FROM documents
            WHERE text IS NOT NULL AND doc_id % {_VD_TWIN_MOD} = {_VD_TWIN_RES}
        )
    )
    SELECT c.doc_id, c.cluster_id, l.n_chars,
           FIRST_VALUE(c.doc_id) OVER (
               PARTITION BY c.cluster_id
               ORDER BY l.n_chars DESC, c.doc_id) AS keeper_id,
           CAST(CASE WHEN c.doc_id = FIRST_VALUE(c.doc_id) OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY l.n_chars DESC, c.doc_id)
                THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM clusters c JOIN lens l ON c.doc_id = l.doc_id
    ORDER BY c.doc_id
"""


def video_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (online) video admission -- completing incremental
    symmetry across all four near-dup legs (text, image, audio, video):
    the corruption twins (doc_id >= _VD_TWIN_BASE) are the arriving
    batch, the natural clips the standing corpus; each batch clip is
    checked against the corpus's per-frame signature index and matched
    or admitted. Per batch clip: its BEST corpus match among pairs
    sharing >= _VD_MIN_SHARED exact frame signatures, argmax under
    (n_shared_frames DESC, corpus doc ASC); novel clips carry a NULL
    match and is_novel = 1.

    Scale shape: an ASYMMETRIC equi-join -- batch frames (small)
    against the corpus frame index on the exact (frame_idx, f_len,
    f_energy, f_wsum) quadruple; no self-join, cost linear in the batch
    for a fixed corpus. The signature's entropy is what keeps per-key
    posting lists near-constant as the corpus grows -- the r10c probe
    showed the plain (len, energy) pair is NOT enough on low-entropy
    frames, hence the position-weighted term (see ``video_neardup``);
    the banded image/audio legs have the analogous band-width rule in
    ``image_incremental``."""
    from pyspark.sql import Window as _W

    fr = _vframes_table(spark, sf_dir)
    is_batch = F.col("doc_id") >= _VD_TWIN_BASE
    corpus, batch = fr.filter(~is_batch), fr.filter(is_batch)
    best = (
        batch.alias("n")
        .join(
            corpus.alias("c"),
            (F.col("n.frame_idx") == F.col("c.frame_idx"))
            & (F.col("n.f_len") == F.col("c.f_len"))
            & (F.col("n.f_energy") == F.col("c.f_energy"))
            & (F.col("n.f_wsum") == F.col("c.f_wsum")),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("cand_doc"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_frames"))
        .filter(F.col("n_shared_frames") >= _VD_MIN_SHARED)
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("new_doc").orderBy(
                    F.desc("n_shared_frames"), "cand_doc"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        batch.select(F.col("doc_id").alias("new_doc"))
        .distinct()
        .join(best, "new_doc", "left")
        .select(
            "new_doc",
            F.col("cand_doc").alias("matched_doc"),
            "n_shared_frames",
            F.col("cand_doc").isNull().cast("int").alias("is_novel"),
        )
        .orderBy("new_doc")
    )


QUERIES["m_video_incremental"] = video_incremental

# Asymmetric mirror of the m_video_neardup oracle: batch (twin) frames
# joined against corpus (natural) frames, best match per batch clip via
# ROW_NUMBER under the same (n_shared DESC, cand ASC) order.
ORACLES["m_video_incremental"] = f"""
    WITH corpus_docs AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ), batch_docs AS (
        SELECT doc_id + {_VD_TWIN_BASE} AS doc_id,
               substr(text, 1, length(text) // 2) || 'Q' ||
                   substr(text, length(text) // 2 + 2, length(text))
               AS text
        FROM documents
        WHERE text IS NOT NULL AND doc_id % {_VD_TWIN_MOD} = {_VD_TWIN_RES}
    ), frames AS (
        SELECT doc_id, f AS frame_idx,
               ((f + 1) * n) // 16 - (f * n) // 16 AS f_len,
               list_sum(codes[(f * n) // 16 + 1 : ((f + 1) * n) // 16])
                   AS f_energy,
               list_sum(list_transform(
                   codes[(f * n) // 16 + 1 : ((f + 1) * n) // 16],
                   (x, i) -> i * x)) AS f_wsum,
               is_batch
        FROM (
            SELECT doc_id, codes, len(codes) AS n, is_batch
            FROM (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split_regex(text, ''),
                                       c -> c <> ''),
                           c -> CAST(ord(c) AS BIGINT)) AS codes,
                       is_batch
                FROM (
                    SELECT doc_id, text, 0 AS is_batch FROM corpus_docs
                    UNION ALL
                    SELECT doc_id, text, 1 AS is_batch FROM batch_docs
                )
            )
            WHERE len(codes) >= 16 AND len(codes) % 120 >= 7
        ), unnest(range(0, 16)) AS u(f)
    ), best AS (
        SELECT n.doc_id AS new_doc,
               c.doc_id AS cand_doc,
               CAST(COUNT(*) AS BIGINT) AS n_shared_frames,
               ROW_NUMBER() OVER (
                   PARTITION BY n.doc_id
                   ORDER BY COUNT(*) DESC, c.doc_id) AS rn
        FROM frames n
        JOIN frames c
          ON n.frame_idx = c.frame_idx
         AND n.f_len = c.f_len
         AND n.f_energy = c.f_energy
         AND n.f_wsum = c.f_wsum
        WHERE n.is_batch = 1 AND c.is_batch = 0
        GROUP BY n.doc_id, c.doc_id
        HAVING COUNT(*) >= {_VD_MIN_SHARED}
    )
    SELECT b.doc_id AS new_doc,
           m.cand_doc AS matched_doc,
           m.n_shared_frames,
           CAST(CASE WHEN m.cand_doc IS NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_novel
    FROM (SELECT DISTINCT doc_id FROM frames WHERE is_batch = 1) b
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) m ON b.doc_id = m.new_doc
    ORDER BY new_doc
"""
