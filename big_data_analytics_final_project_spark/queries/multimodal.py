"""Multimodal metadata query — oracle-checkable part of the binary
plumbing (operators/multimodal.py). The testdata has no media blobs, so
the payload is the utf-8 encoding of `documents.text`: the binary
column mechanics (byte length, magic sniff, hex digest) are identical
to a real media table's metadata pass."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    fake_feature_vector,
    fake_sample_frames,
    with_binary_meta,
)
from ..operators.similarity import cosine_sql, knn_bruteforce
from ..operators.spread import heal_scan_width
from ..sources import load_table
from . import QuerySpec


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        with_binary_meta(_payloads(spark, sf_dir))
        .select(
            "media_id",
            "byte_len",
            "format",
            F.lower(F.hex(F.substring(F.col("payload"), 1, 8))).alias("head_hex"),
            F.md5(F.col("payload")).alias("payload_md5"),
        )
        .orderBy("media_id")
    )


BINARY_META_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS byte_len,
       'unknown' AS format,
       lower(substring(hex(encode(text)), 1, 16)) AS head_hex,
       md5(text) AS payload_md5
FROM documents
ORDER BY media_id
"""


def media_png_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural binary parse with PURE expressions — no UDF, no
    codec: each doc gets a deterministic, spec-correct PNG header
    (signature + IHDR chunk, width/height derived from doc_id), and
    the query recovers the dimensions by offset arithmetic on the
    binary (big-endian uint32 at bytes 17-20 / 21-24), plus the magic
    sniff. The oracle re-derives width/height from first principles —
    the hash match proves the parse reads exactly what was encoded.

    At 100 TB this is the metadata pass a media lake runs BEFORE any
    decode: JVM-side, codegen'd, one scan, zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    width = (F.col("doc_id") % 1920 + 16).cast("bigint")
    height = ((F.col("doc_id") * 7) % 1080 + 16).cast("bigint")
    payload = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),  # sig + len + IHDR
            F.lpad(F.hex(width), 8, "0"),
            F.lpad(F.hex(height), 8, "0"),
            F.lit("0802000000"),  # bit depth, color, comp, filter, interlace
        )
    )
    synthesized = docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    parsed = with_binary_meta(synthesized).select(
        "media_id",
        "format",
        "byte_len",
        F.conv(F.hex(F.substring(F.col("payload"), 17, 4)), 16, 10)
        .cast("bigint")
        .alias("width"),
        F.conv(F.hex(F.substring(F.col("payload"), 21, 4)), 16, 10)
        .cast("bigint")
        .alias("height"),
    )
    return parsed.orderBy("media_id")


MEDIA_PNG_DIMS_SQL = """
SELECT doc_id AS media_id,
       'png' AS format,
       29 AS byte_len,
       CAST(doc_id % 1920 + 16 AS BIGINT) AS width,
       CAST((doc_id * 7) % 1080 + 16 AS BIGINT) AS height
FROM documents
ORDER BY media_id
"""


_N_MEDIA_QUERIES = 3
_K_MEDIA = 3
_N_FRAMES = 3

# md5 hex pair → byte value, shared by the feature-vector oracle.
_HEXPOS = "(strpos('0123456789abcdef', h[{hi}]) - 1)"


def _hexbyte(i: int) -> str:
    """SQL for md5-digest byte i (0-based) from hex string column h."""
    hi = _HEXPOS.format(hi=2 * i + 1)
    lo = _HEXPOS.format(hi=2 * i + 2)
    return f"({hi} * 16 + {lo})"


def media_feature_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline end-to-end: binary payloads →
    Arrow-batched mapInPandas feature extraction (operators/multimodal.
    fake_feature_vector, the stand-in for a real embedding UDF) → exact
    cosine top-k (operators/similarity.knn_bruteforce). The oracle
    rebuilds the identical md5-derived vectors in SQL — so the WHOLE
    pipeline including the Python batch stage is value-checked."""
    feats = fake_feature_vector(_payloads(spark, sf_dir))
    return knn_bruteforce(
        feats,
        lambda c: c < _N_MEDIA_QUERIES,
        k=_K_MEDIA,
        id_col="media_id",
        vec_col="vec",
    )


def _media_feature_knn_sql() -> str:
    vec = ", ".join(f"{_hexbyte(i)} / 255.0" for i in range(16))
    cos = cosine_sql("q.qv", "c.cv")
    return f"""
WITH hashed AS (SELECT doc_id AS _id, md5(text) AS h FROM documents),
base AS (SELECT _id, [{vec}] AS _v FROM hashed),
queries AS (SELECT _id AS query_id, _v AS qv FROM base WHERE _id < {_N_MEDIA_QUERIES}),
cands AS (SELECT _id AS neighbor_id, _v AS cv FROM base),
scored AS (
  SELECT q.query_id, c.neighbor_id, {cos} AS cosine_sim
  FROM cands c CROSS JOIN queries q
  WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, cosine_sim
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
)
WHERE rank <= {_K_MEDIA}
ORDER BY query_id, rank
"""


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding mapInPandas (1 payload → N frame rows) — the
    frame-sampling batch contract, value-checked via deterministic
    per-frame checksums."""
    frames = fake_sample_frames(_payloads(spark, sf_dir), n_frames=_N_FRAMES)
    return frames.orderBy("media_id", "frame_idx")


MEDIA_FRAME_SAMPLE_SQL = f"""
SELECT doc_id AS media_id, CAST(r.i AS INT) AS frame_idx,
       md5(text || ':' || r.i) AS frame_checksum
FROM documents, range(0, {_N_FRAMES}) r(i)
ORDER BY media_id, frame_idx
"""


def _le_hex(col: F.Column, nbytes: int) -> F.Column:
    """Little-endian hex of a nonnegative integer column (byte-reversed
    big-endian lpad hex) — RIFF/WAV fields are LE, unlike PNG's BE."""
    be = F.lpad(F.lower(F.hex(col)), 2 * nbytes, "0")
    pairs = [F.substring(be, 2 * i + 1, 2) for i in range(nbytes)]
    return F.concat(*reversed(pairs))


def _le_read(payload: F.Column, off: int, nbytes: int) -> F.Column:
    """Parse a little-endian unsigned int at 1-based byte offset."""
    pairs = [
        F.lower(F.hex(F.substring(payload, off + i, 1)))
        for i in range(nbytes)
    ]
    return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("bigint")


def media_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata pass: spec-correct 44-byte WAV (RIFF) headers are
    synthesized per doc (channels/rate/sample-count derived from
    doc_id) and the query recovers channels, sample rate, bit depth,
    sample count and duration by LITTLE-endian offset arithmetic on
    the binary — the endianness twin of `media_png_dims`' big-endian
    parse, still pure codegen'd expressions, no UDF, no codec.

    The oracle re-derives every field from first principles, so the
    hash match proves the byte-swap parse reads exactly what the
    byte-swap writer encoded. At 100 TB this is the audio lake's
    metadata scan (duration histograms, sample-rate audits) that runs
    BEFORE any decode ships to GPUs."""
    docs = load_table(spark, sf_dir, "documents")
    channels = (F.col("doc_id") % 2 + 1).cast("bigint")
    rate = (
        F.when(F.col("doc_id") % 3 == 0, 8000)
        .when(F.col("doc_id") % 3 == 1, 16000)
        .otherwise(44100)
        .cast("bigint")
    )
    n_samples = (F.col("doc_id") % 4000 + 500).cast("bigint")
    block_align = channels * 2  # 16-bit PCM
    data_len = n_samples * block_align
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),  # 'RIFF'
            _le_hex(data_len + 36, 4),  # chunk size
            F.lit("57415645666d7420"),  # 'WAVE' + 'fmt '
            _le_hex(F.lit(16), 4),  # fmt chunk size
            _le_hex(F.lit(1), 2),  # PCM
            _le_hex(channels, 2),
            _le_hex(rate, 4),
            _le_hex(rate * block_align, 4),  # byte rate
            _le_hex(block_align, 2),
            _le_hex(F.lit(16), 2),  # bits per sample
            F.lit("64617461"),  # 'data'
            _le_hex(data_len, 4),
        )
    )
    synthesized = docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    p = F.col("payload")
    got_rate = _le_read(p, 25, 4)
    got_samples = (
        _le_read(p, 41, 4) / _le_read(p, 33, 2)
    ).cast("bigint")  # data_len / block_align (always exact)
    parsed = with_binary_meta(synthesized).select(
        "media_id",
        "format",
        "byte_len",
        _le_read(p, 23, 2).alias("channels"),
        got_rate.alias("sample_rate"),
        _le_read(p, 35, 2).alias("bit_depth"),
        got_samples.alias("n_samples"),
        F.floor(got_samples * 1_000_000 / got_rate)
        .cast("bigint")
        .alias("duration_us"),
    )
    return parsed.orderBy("media_id")


MEDIA_WAV_META_SQL = """
SELECT doc_id AS media_id,
       'riff' AS format,
       44 AS byte_len,
       CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
                 WHEN doc_id % 3 = 1 THEN 16000
                 ELSE 44100 END AS BIGINT) AS sample_rate,
       CAST(16 AS BIGINT) AS bit_depth,
       CAST(doc_id % 4000 + 500 AS BIGINT) AS n_samples,
       CAST(floor(CAST(doc_id % 4000 + 500 AS DOUBLE) * 1000000
                  / (CASE WHEN doc_id % 3 = 0 THEN 8000
                          WHEN doc_id % 3 = 1 THEN 16000
                          ELSE 44100 END)) AS BIGINT) AS duration_us
FROM documents
ORDER BY media_id
"""


def media_wav_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM16 decode end to end — the codec-free member of the
    media family: per doc, a complete WAV file (44-byte header + two's
    complement little-endian int16 sample data, synthesized by pure
    byte expressions from a deterministic formula) is DECODED with
    numpy inside Arrow `mapInPandas` (`operators.multimodal.
    pcm16_stats`) into loudness stats — sample count, exact integer
    energy, peak, micro-quantized RMS. The DuckDB oracle never touches
    the binary: it re-derives every stat from the same sample formula,
    so a hash match proves the byte writer, the 44-byte framing, AND
    the numpy decode agree sample-for-sample.

    This closes the media family's loop: `media_wav_meta` proves the
    header parse, this proves the PAYLOAD decode — real decode where
    no codec is needed. Scale: `heal_scan_width` spreads the BARE
    doc_id rows when the documents footers cap the scan below half the
    cores, then map-only synthesis + the Arrow hop run in the same
    task set (the synthesized payload bytes never cross an exchange,
    and the byte-expression synthesis parallelizes); stats are
    per-file, no shuffle until the output sort."""
    from ..operators.multimodal import pcm16_stats

    docs = heal_scan_width(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    n = (F.col("doc_id") % 200 + 50).cast("bigint")
    # sample k: v = (doc_id*131 + k*7919) % 65536 − 32768; stored LE
    # int16 two's complement = (v mod 2^16) = (u + 32768) mod 2^16
    data_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n - 1).cast("int")),
            lambda k: _le_hex(
                (
                    (F.col("doc_id") * 131 + k.cast("bigint") * 7919)
                    % 65536
                    + 32768
                )
                % 65536,
                2,
            ),
        ),
        "",
    )
    data_len = n * 2
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),  # 'RIFF'
            _le_hex(data_len + 36, 4),
            F.lit("57415645666d7420"),  # 'WAVE' + 'fmt '
            _le_hex(F.lit(16), 4),
            _le_hex(F.lit(1), 2),  # PCM
            _le_hex(F.lit(1), 2),  # mono
            _le_hex(F.lit(16000), 4),  # sample rate
            _le_hex(F.lit(32000), 4),  # byte rate
            _le_hex(F.lit(2), 2),  # block align
            _le_hex(F.lit(16), 2),  # bits per sample
            F.lit("64617461"),  # 'data'
            _le_hex(data_len, 4),
            data_hex,
        )
    )
    synth = docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    return pcm16_stats(synth).orderBy("media_id")


MEDIA_WAV_RMS_SQL = """
WITH s AS (
  SELECT doc_id AS media_id,
         unnest(range(0, doc_id % 200 + 50)) AS k
  FROM documents
),
v AS (
  SELECT media_id,
         (media_id * 131 + k * 7919) % 65536 - 32768 AS val
  FROM s
),
agg AS (
  SELECT media_id, count(*) AS n_samples,
         CAST(SUM(val * val) AS BIGINT) AS sum_sq,
         CAST(max(abs(val)) AS BIGINT) AS peak
  FROM v GROUP BY media_id
)
SELECT media_id, n_samples, sum_sq, peak,
       CAST(floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1e6 + 0.5)
            AS BIGINT) AS rms_micro
FROM agg
ORDER BY media_id
"""


def _be_hex(col: F.Column, nbytes: int) -> F.Column:
    """Big-endian hex of a nonnegative integer column — PNG fields are
    BE, unlike RIFF's LE."""
    return F.lpad(F.lower(F.hex(col)), 2 * nbytes, "0")


def media_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode end to end — the image twin of
    `media_wav_rms`, retiring the image half of the decode-stub family:
    per doc, a COMPLETE spec-correct PNG (signature, IHDR, one IDAT
    whose zlib stream wraps a stored-deflate block — so no compressor
    is needed on the write side — and IEND, every chunk carrying a
    true CRC-32 via `F.crc32`, the zlib Adler-32 folded with
    `F.aggregate`) is synthesized by PURE byte expressions from a
    deterministic 8-bit grayscale pixel formula, then DECODED with
    stdlib `zlib` + numpy unfiltering inside Arrow `mapInPandas`
    (`operators.multimodal.png_pixel_stats`) into exact integer pixel
    stats. Scanlines deliberately mix filter types — None on row 0,
    Sub on odd rows, Up on even rows (the formula makes the filtered
    bytes constants: Δc=7, Δr=17) — so the decoder's filter
    reconstruction is exercised for real, not just pass-through.

    The DuckDB oracle never touches the binary: it re-derives every
    stat from the pixel formula, so a hash match proves the byte
    framing, both checksums, the inflate, AND the unfiltering agree
    pixel-for-pixel. Scale: as `media_wav_rms` — the bare doc_id rows
    are healed, then map-only synthesis + the Arrow hop in the same
    task set (payload bytes never cross an exchange); stats are
    per-file, no shuffle until the output sort."""
    from ..operators.multimodal import png_pixel_stats

    docs = heal_scan_width(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    doc_id = F.col("doc_id").cast("bigint")
    width = doc_id % 8 + 4
    height = doc_id % 6 + 3

    def pix(r: F.Column, c: F.Column) -> F.Column:
        return (doc_id * 31 + r * 17 + c * 7) % 256

    def scanline(r_i: F.Column) -> F.Column:
        """Filtered bytes for scanline r: [filter_type] + width bytes."""
        r = r_i.cast("bigint")
        ft = (
            F.when(r == 0, F.lit(0))
            .when(r % 2 == 1, F.lit(1))  # Sub
            .otherwise(F.lit(2))  # Up
            .cast("bigint")
        )
        cols = F.sequence(F.lit(0), (width - 1).cast("int"))
        body = F.transform(
            cols,
            lambda c_i: F.when(ft == 0, pix(r, c_i.cast("bigint")))
            .when((ft == 1) & (c_i == 0), pix(r, F.lit(0).cast("bigint")))
            .when(ft == 1, F.lit(7).cast("bigint"))  # pix(r,c)-pix(r,c-1)
            .otherwise(F.lit(17).cast("bigint")),  # pix(r,c)-pix(r-1,c)
        )
        return F.concat(F.array(ft), body)

    raw = F.flatten(
        F.transform(F.sequence(F.lit(0), (height - 1).cast("int")), scanline)
    )
    raw_len = height * (width + 1)
    raw_hex = F.array_join(
        F.transform(raw, lambda b: _be_hex(b, 1)), ""
    )
    # zlib Adler-32 over the uncompressed scanline stream: a=1+Σv,
    # b=Σa, both mod 65521 — folded JVM-side, no Python
    adler = F.aggregate(
        raw,
        F.struct(
            F.lit(1).cast("bigint").alias("a"),
            F.lit(0).cast("bigint").alias("b"),
        ),
        lambda acc, v: F.struct(
            ((acc["a"] + v) % 65521).alias("a"),
            ((acc["b"] + acc["a"] + v) % 65521).alias("b"),
        ),
        lambda acc: acc["b"] * 65536 + acc["a"],
    )
    # raw deflate STORED block (BFINAL=1, BTYPE=00): len/nlen are LE
    zstream_hex = F.concat(
        F.lit("7801"),  # CMF/FLG: deflate, 32K window, (0x7801 % 31)==0
        F.lit("01"),
        _le_hex(raw_len, 2),
        _le_hex(F.lit(0xFFFF) - raw_len, 2),  # NLEN = ~LEN
        raw_hex,
        _be_hex(adler, 4),
    )
    ihdr_body_hex = F.concat(
        _be_hex(width, 4),
        _be_hex(height, 4),
        F.lit("0800000000"),  # 8-bit, grayscale, deflate, adaptive, no interlace
    )
    ihdr_crc = F.crc32(F.unhex(F.concat(F.lit("49484452"), ihdr_body_hex)))
    idat_crc = F.crc32(F.unhex(F.concat(F.lit("49444154"), zstream_hex)))
    payload = F.unhex(
        F.concat(
            F.lit("89504e470d0a1a0a"),  # signature
            F.lit("0000000d49484452"),  # IHDR length + type
            ihdr_body_hex,
            _be_hex(ihdr_crc, 4),
            _be_hex(raw_len + 11, 4),  # IDAT length: 2+5+raw+4
            F.lit("49444154"),
            zstream_hex,
            _be_hex(idat_crc, 4),
            F.lit("0000000049454e44ae426082"),  # IEND
        )
    )
    synth = docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    return png_pixel_stats(synth).orderBy("media_id")


MEDIA_PNG_PIXELS_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, doc_id % 8 + 4 AS w, doc_id % 6 + 3 AS h
  FROM documents
),
rc AS (SELECT media_id, w, h, unnest(range(0, h)) AS r FROM d),
p  AS (SELECT media_id, w, h, r, unnest(range(0, w)) AS c FROM rc),
v  AS (
  SELECT media_id, w, h, (media_id * 31 + r * 17 + c * 7) % 256 AS val
  FROM p
)
SELECT media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(min(val) AS BIGINT) AS px_min,
       CAST(max(val) AS BIGINT) AS px_max,
       CAST(sum(val * val) AS BIGINT) AS px_sum_sq
FROM v
GROUP BY media_id, w, h
ORDER BY media_id
"""


def media_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end to end — retiring the video member of the
    decode-stub family next to `media_wav_rms` (PCM16) and
    `media_png_pixels` (zlib PNG): per doc, a COMPLETE RIFF/AVI file —
    avih + strh/strf headers stating the geometry three ways, and a
    movi LIST of 2-5 uncompressed 24-bit DIB '00db' frames — is
    synthesized by PURE byte expressions from a deterministic
    per-(frame,row,col,channel) pixel formula, then DECODED with
    numpy inside Arrow `mapInPandas` (`operators.multimodal.
    avi_frame_pixel_stats`) into exact integer per-frame stats. The
    frames are stored the way DIBs really are — bottom-up scanlines,
    BGR byte order, rows padded to 4-byte stride (width 4-9 never
    divides evenly) — and the output columns are chosen so each
    DIB-ism is load-bearing: `top_row_sum` breaks without the
    vertical flip, the per-channel sums break on BGR/RGB confusion,
    everything breaks if the stride pad leaks into the pixels.

    The DuckDB oracle never touches the binary: it re-derives every
    stat from the pixel formula. 1 doc → n_frames rows (the
    frame-expansion contract `media_frame_sample` fakes, now real).
    Scale: as `media_wav_rms` — the bare doc_id rows are healed
    BEFORE the payload synthesis, so the byte-expression work
    parallelizes and the synthesized bytes never cross an exchange;
    map-only synthesis + one Arrow hop, per-frame stats, no shuffle
    until the output sort.

    Build cost (r9): the synthesis is composed as ONE Spark-SQL
    expression STRING in Python and handed to a single `selectExpr` —
    the previous Column-DSL form made hundreds of py4j round-trips and
    cost a measured ~1s of driver-side build per invocation (the r8
    verdict's ~2s bench-tail finding; JVM analysis itself was <0.1s).
    Geometry subexpressions are named once in a projection stage and
    referenced by column; Catalyst's CollapseProject inlines them, so
    the executed plan is unchanged — byte-identical output, same
    whole-stage-codegen'd expressions, ~20x cheaper to build."""
    from ..operators.multimodal import avi_frame_pixel_stats

    docs = heal_scan_width(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def le_var(expr: str, nbytes: int) -> str:
        """Little-endian hex SQL text for a nonneg integer expression
        (byte-reversed big-endian lpad hex — the SQL twin of the
        Column helper `_le_hex`)."""
        be = f"lpad(lower(hex({expr})), {2 * nbytes}, '0')"
        pairs = [
            f"substring({be}, {2 * i + 1}, 2)" for i in reversed(range(nbytes))
        ]
        return "concat(" + ", ".join(pairs) + ")"

    def le_const(v: int, nbytes: int) -> str:
        """Little-endian hex of a Python constant, folded at authoring
        time instead of in the expression tree."""
        return v.to_bytes(nbytes, "little").hex()

    # Geometry named ONCE as columns; every later mention is a column
    # reference, not a duplicated arithmetic subtree. (CollapseProject
    # folds these projections back into one at optimize time.)
    g = docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS media_id",
        "CAST(doc_id AS BIGINT) % 6 + 4 AS w",
        "CAST(doc_id AS BIGINT) % 4 + 3 AS h",
        "CAST(doc_id AS BIGINT) % 4 + 2 AS nf",
    )
    g = g.selectExpr("*", "3 * w AS row_bytes")
    # pad rows to 4 bytes
    g = g.selectExpr("*", "row_bytes + 3 - (row_bytes + 3) % 4 AS stride")
    g = g.selectExpr("*", "stride * h AS frame_size")
    g = g.selectExpr("*", "nf * (frame_size + 8) + 4 AS movi_size")

    # '00db' chunk per frame f: header + bottom-up BGR rows with
    # stride pad. Stored row s is image row h-1-s (bottom-up); each
    # pixel emits its (B,G,R) channel triple — ch 0,1,2 folded to
    # +0/+11/+22 at authoring time.
    pix = "media_id * 31 + f * 53 + (h - 1 - s) * 17 + c * 7"
    frame_chunk = f"""concat(
      '30306462', {le_var("frame_size", 4)},
      array_join(
        transform(
          flatten(transform(sequence(0, CAST(h - 1 AS INT)), s ->
            concat(
              flatten(transform(sequence(0, CAST(w - 1 AS INT)), c ->
                array(({pix}) % 256, ({pix} + 11) % 256, ({pix} + 22) % 256)
              )),
              array_repeat(CAST(0 AS BIGINT), CAST(stride - row_bytes AS INT))
            )
          )),
          b -> lpad(lower(hex(b)), 2, '0')
        ),
        ''
      )
    )"""

    zeros = lambda n: "00" * n  # noqa: E731
    avih_hex = (  # 56-byte MainAVIHeader
        le_const(33333, 4)  # dwMicroSecPerFrame (~30 fps)
        + zeros(12)  # maxbytes/padding/flags
        + f"', {le_var('nf', 4)}, '"  # dwTotalFrames
        + zeros(4)  # dwInitialFrames
        + le_const(1, 4)  # dwStreams
        + f"', {le_var('frame_size', 4)}, {le_var('w', 4)}, "
        + f"{le_var('h', 4)}, '"  # dwSuggestedBufferSize, w, h
        + zeros(16)  # dwReserved[4]
    )
    strh_hex = (  # 56-byte AVIStreamHeader
        "76696473"  # fccType 'vids'
        "44494220"  # fccHandler 'DIB '
        + zeros(12)  # flags/priority/language/initialframes
        + le_const(1, 4)  # dwScale
        + le_const(30, 4)  # dwRate
        + zeros(4)  # dwStart
        + f"', {le_var('nf', 4)}, "  # dwLength (frames)
        + f"{le_var('frame_size', 4)}, '"  # dwSuggestedBufferSize
        + zeros(16)  # quality/samplesize/rcFrame
    )
    strf_hex = (  # 40-byte BITMAPINFOHEADER, no palette at 24bpp
        le_const(40, 4)  # biSize
        + f"', {le_var('w', 4)}, "
        + f"{le_var('h', 4)}, '"  # positive biHeight = bottom-up
        + le_const(1, 2)  # biPlanes
        + le_const(24, 2)  # biBitCount
        + zeros(4)  # biCompression = BI_RGB
        + f"', {le_var('frame_size', 4)}, '"  # biSizeImage
        + zeros(16)  # ppm/clrused/clrimportant
    )
    payload_sql = f"""unhex(concat(
      '52494646', {le_var("movi_size + 212", 4)},
      '41564920{"4c495354" + le_const(192, 4)}6864726c{"61766968" + le_const(56, 4)}',
      '{avih_hex}',
      '{"4c495354" + le_const(116, 4)}7374726c{"73747268" + le_const(56, 4)}',
      '{strh_hex}',
      '{"73747266" + le_const(40, 4)}',
      '{strf_hex}',
      '4c495354', {le_var("movi_size", 4)}, '6d6f7669',
      array_join(
        transform(sequence(0, CAST(nf - 1 AS INT)), f -> {frame_chunk}), ''
      )
    ))"""
    synth = g.selectExpr("media_id", f"{payload_sql} AS payload")
    return avi_frame_pixel_stats(synth).orderBy("media_id", "frame_idx")


MEDIA_AVI_FRAMES_SQL = """
WITH d AS (
  SELECT doc_id AS media_id,
         doc_id % 6 + 4 AS w,
         doc_id % 4 + 3 AS h,
         doc_id % 4 + 2 AS nf
  FROM documents
),
f  AS (SELECT *, unnest(range(0, nf)) AS fi FROM d),
r  AS (SELECT *, unnest(range(0, h)) AS ri FROM f),
c  AS (SELECT *, unnest(range(0, w)) AS ci FROM r),
ch AS (SELECT *, unnest(range(0, 3)) AS chi FROM c),
px AS (
  SELECT media_id, w, h, nf, fi, ri, chi,
         (media_id * 31 + fi * 53 + ri * 17 + ci * 7 + chi * 11) % 256 AS val
  FROM ch
)
SELECT media_id,
       CAST(fi AS BIGINT) AS frame_idx,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN chi = 0 THEN val ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(sum(CASE WHEN chi = 1 THEN val ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN chi = 2 THEN val ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(min(val) AS BIGINT) AS px_min,
       CAST(max(val) AS BIGINT) AS px_max,
       CAST(sum(CASE WHEN ri = 0 THEN val ELSE 0 END) AS BIGINT)
           AS top_row_sum
FROM px
GROUP BY media_id, fi, w, h, nf
ORDER BY media_id, frame_idx
"""


def media_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end to end — the fourth decode-family member
    next to `media_wav_rms` (PCM16), `media_png_pixels` (zlib inflate
    + unfilter) and `media_avi_frames` (RIFF/DIB): per doc, a complete
    GIF87a — logical screen descriptor, 64-entry global color table,
    one non-interlaced frame whose index stream is LZW-COMPRESSED by
    the from-scratch encoder (`operators.multimodal.lzw_encode_gif`,
    string-table build with variable-width LSB-first emission) — is
    synthesized from a deterministic per-(row,col) index formula, then
    DECODED by the independently-written LZW decompressor
    (`gif_pixel_stats`: prefix-chain table replay, KwKwK case, width
    growth) into exact integer per-channel sums and index extrema.

    Unlike the WAV/PNG/AVI writers, variable-width LZW emission is
    inherently sequential (each code's width depends on the table size
    at that instant), so the ENCODER runs in an Arrow `mapInPandas`
    stage rather than column expressions; the healed id rows feed both
    Arrow hops (encode chains straight into decode — no second
    shuffle).

    The DuckDB oracle never touches bytes: it re-derives every stat
    from the index/palette formulas, so a hash match proves compressor
    and decompressor agree pixel-for-pixel through a real container.
    Scale: map-only synthesis, two pipelined Arrow hops, per-file
    stats; no shuffle after the spread until the output sort."""
    from ..operators.multimodal import encode_gif, gif_pixel_stats

    docs = load_table(spark, sf_dir, "documents")
    params = heal_scan_width(docs.select(F.col("doc_id").alias("media_id")))

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, payloads = [], []
            pal_i = np.arange(64)
            palette = np.stack(
                [
                    (pal_i * 5 + 1) % 256,
                    (pal_i * 7 + 3) % 256,
                    (pal_i * 11 + 5) % 256,
                ],
                axis=1,
            ).astype(np.uint8)
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 7 + 4, mid % 5 + 3
                r = np.arange(h).reshape(-1, 1)
                c = np.arange(w).reshape(1, -1)
                idx = (mid * 13 + r * 5 + c * 3) % 64
                ids.append(mid)
                payloads.append(encode_gif(idx, palette, min_code_size=6))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    synth = params.mapInPandas(encode, schema="media_id long, payload binary")
    return gif_pixel_stats(synth).orderBy("media_id")


MEDIA_GIF_PIXELS_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, doc_id % 7 + 4 AS w, doc_id % 5 + 3 AS h
  FROM documents
),
rc AS (SELECT media_id, w, h, unnest(range(0, h)) AS r FROM d),
p  AS (SELECT media_id, w, h, r, unnest(range(0, w)) AS c FROM rc),
v  AS (
  SELECT media_id, w, h, (media_id * 13 + r * 5 + c * 3) % 64 AS idx
  FROM p
)
SELECT media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum((idx * 5 + 1) % 256) AS BIGINT) AS sum_r,
       CAST(sum((idx * 7 + 3) % 256) AS BIGINT) AS sum_g,
       CAST(sum((idx * 11 + 5) % 256) AS BIGINT) AS sum_b,
       CAST(min(idx) AS BIGINT) AS idx_min,
       CAST(max(idx) AS BIGINT) AS idx_max
FROM v
GROUP BY media_id, w, h
ORDER BY media_id
"""


QUERIES: dict[str, QuerySpec] = {
    "binary_meta": QuerySpec(binary_meta, BINARY_META_SQL),
    "media_wav_meta": QuerySpec(media_wav_meta, MEDIA_WAV_META_SQL),
    "media_png_dims": QuerySpec(media_png_dims, MEDIA_PNG_DIMS_SQL),
    "media_feature_knn": QuerySpec(media_feature_knn, _media_feature_knn_sql()),
    "media_frame_sample": QuerySpec(media_frame_sample, MEDIA_FRAME_SAMPLE_SQL),
    "media_wav_rms": QuerySpec(media_wav_rms, MEDIA_WAV_RMS_SQL),
    "media_png_pixels": QuerySpec(media_png_pixels, MEDIA_PNG_PIXELS_SQL),
    "media_avi_frames": QuerySpec(media_avi_frames, MEDIA_AVI_FRAMES_SQL),
    "media_gif_pixels": QuerySpec(media_gif_pixels, MEDIA_GIF_PIXELS_SQL),
}
