"""Text-analysis + multimodal queries over ``documents``
(SURVEY §3.8 L4/L5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metricproxy_spark.io import load_table, read_parquet_cached, spread
from metricproxy_spark.operators.multimodal import extract_features
from metricproxy_spark.operators.text import (
    LANG_LEXICONS,
    lang_score,
    quality_features,
    token_counts,
    words_of,
    fingerprint,
)
from metricproxy_spark.registry import register

_STOP_SQL = "['the','and','of','query','table']"


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               lower(trim(text)) AS c,
               string_split(lower(trim(text)), ' ') AS words
        FROM documents
    )
    SELECT doc_id,
           length(c) AS n_chars,
           len(words) AS n_words,
           round(CAST(length(c) - (len(words) - 1) AS DOUBLE)
                 / CAST(len(words) AS DOUBLE), 9) AS mean_word_len,
           round(CAST(len(list_filter(words,
                     w -> list_contains({_STOP_SQL}, w))) AS DOUBLE)
                 / CAST(len(words) AS DOUBLE), 9) AS stopword_ratio,
           round(CAST(length(regexp_replace(c, '[^a-z]', '', 'g')) AS DOUBLE)
                 / CAST(length(c) AS DOUBLE), 9) AS alpha_ratio,
           round(1 - CAST(len(list_distinct(words)) AS DOUBLE)
                     / CAST(len(words) AS DOUBLE), 9) AS repetition_ratio
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: quality-scoring features (length/word stats, stopword,
    alpha, repetition ratios) — single narrow projection."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.lower(F.trim("text"))
    )
    feats = quality_features("text")
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in feats.items()]
    )


_LANGS = sorted(LANG_LEXICONS)  # alphabetical = tie precedence


def _lang_case_sql() -> str:
    whens = []
    for lang in _LANGS:
        others = [o for o in _LANGS if o != lang]
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in others)
        whens.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " END"


def _lexicon_sql(lang: str) -> str:
    return "[" + ",".join(f"'{w}'" for w in LANG_LEXICONS[lang]) + "]"


@register(
    "text_lang_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(string_split(lower(trim(text)), ' ')) AS dw
        FROM documents
    ), scored AS (
        SELECT doc_id,
               {", ".join(
                   f"round(CAST(len(list_intersect(dw, {_lexicon_sql(lang)})) AS DOUBLE)"
                   f" / CAST(len(dw) AS DOUBLE), 9) AS s_{lang}"
                   for lang in _LANGS
               )}
        FROM t
    )
    SELECT doc_id, {", ".join(f"s_{lang}" for lang in _LANGS)},
           {_lang_case_sql()} AS predicted_lang
    FROM scored
    """,
)
def text_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: lexicon-overlap language scoring + argmax prediction
    (alphabetical tie precedence, mirrored in the oracle CASE chain)."""
    docs = load_table(spark, sf_dir, "documents")
    words = words_of("text")
    scored = docs.select(
        "doc_id",
        *[
            lang_score(words, LANG_LEXICONS[lang]).alias(f"s_{lang}")
            for lang in _LANGS
        ],
    )
    pred = None
    for lang in _LANGS:
        cond = None
        for o in _LANGS:
            if o == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        pred = (
            F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
        )
    return scored.withColumn("predicted_lang", pred)


@register(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS regex_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_subwords
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: whitespace + BPE-ish regex token counting and the chars/4
    subword estimate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts("text")
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in counts.items()]
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(lower(trim(text)), ' '),
                       w -> CAST(ascii(w) * 1024 + length(w) AS BIGINT))),
               (acc, v) -> (acc * 131 + v) % 1000000000000037
           ) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: order-sensitive polynomial rolling-hash fingerprint (same
    fold expressed with list_reduce in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@register(
    "text_top_terms",
    oracle="""
    WITH tokens AS (
        SELECT lang, UNNEST(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ), counted AS (
        SELECT lang, word, count(*) AS n
        FROM tokens GROUP BY lang, word
    ), ranked AS (
        SELECT lang, word, n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n DESC, word) AS rn
        FROM counted
    )
    SELECT lang, word, n, rn FROM ranked WHERE rn <= 5
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: term frequency + top-5 terms per language (explode → agg →
    rank window; the agg's map-side combine keeps the exploded token
    stream from ever shuffling raw)."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select("lang", F.explode(words_of("text")).alias("word"))
    counted = tokens.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    return counted.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 5
    )


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: binary media column → mapInPandas feature extraction.
    Payloads are synthesized by utf8-encoding document text (codec libs
    absent — decode is stubbed per SURVEY; the Arrow batching, schema
    and partition plumbing are real). Oracle checks the byte-length
    surface; the deterministic fake features are covered rows-only here
    and value-tested in tests/test_llm_ops.py."""
    # NO spread(): the stub extractor is cheap — the exchange cost
    # exceeds the single-core pass it saves (measured net loss).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    feats = extract_features(docs, content_col="content", id_col="doc_id")
    return feats.select("doc_id", "n_bytes")


@register("multimodal_feature_vectors")
def multimodal_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 rows-only twin: full feature vectors (array<double>) from the
    mapInPandas extractor, exercising the Arrow array return path. The
    array is JSON-serialized in the FINAL projection only (the driver's
    canonicalizer sorts result columns with pandas, which cannot hash
    list cells — r02 recorded an 'unhashable type' error for this row);
    everything upstream of the last select still flows as a real
    array<double> through Arrow."""
    # NO spread(): same cheap-kernel verdict as multimodal_features.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    feats = extract_features(docs, content_col="content", id_col="doc_id")
    return feats.select(
        "doc_id", "n_bytes", F.to_json("features").alias("features_json")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH frames AS (
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS duration_ms,
               unnest(range(0, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) + 1, 1000)) AS frame_ms
        FROM documents
    )
    SELECT doc_id, frame_ms,
           round(CAST((doc_id * 1000003 + frame_ms) % 10007 AS DOUBLE) / 10007.0, 9)
             AS frame_feature
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: video frame-sampling plumbing — duration metadata → one row
    per 1s frame offset (Catalyst sequence+explode) → per-frame decode
    stub in Arrow-batched mapInPandas. Payload duration is faked from
    the text byte length (no codecs in this container); the per-frame
    "feature" is deterministic arithmetic so the ENTIRE pipeline
    (explode fan-out, Arrow batch shape, per-frame Python, columnar
    return) is value-checked against plain SQL."""
    from metricproxy_spark.operators.multimodal import (
        extract_frame_features,
        sample_frame_offsets,
    )

    # NO spread(): the per-frame stub is deterministic arithmetic —
    # exchange cost exceeds the single-core pass (measured net loss).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("content"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("duration_ms"),
    )
    frames = sample_frame_offsets(docs, "duration_ms", frame_interval_ms=1000)
    return extract_frame_features(frames)


@register(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
           CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 13 END AS width,
           CASE WHEN doc_id % 2 = 0 THEN 3 + doc_id % 7 END AS height,
           CASE WHEN doc_id % 2 = 1
                THEN (800 + (doc_id % 50) * 40) // 8 END AS duration_ms,
           CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                ELSE CAST(doc_id % 100 - 50 AS DOUBLE) END AS mean_value
    FROM documents
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 with REAL codecs: synthesized BMP images (even doc_ids) and
    PCM WAV clips (odd doc_ids) ride a binary column and are decoded by
    the pure-struct BMP/WAV parsers in
    :mod:`metricproxy_spark.operators.multimodal` — actual container
    decode, not the compressed-format stub. The oracle re-derives
    width/height from the BMP header, duration from the WAV
    frame-count/sample-rate, and the decoded-sample MEAN from the
    payload generator's constants — so pixel/sample data (stride
    padding, BGR order, int16 framing) is value-checked, not just
    header fields. Encode and decode both run executor-side in Arrow
    batches."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_media_meta,
        encode_bmp,
        encode_wav,
    )

    # NO spread() here, unlike the compressed-codec siblings: the
    # BMP/WAV kernels are cheap enough that the round-robin exchange
    # costs more than the single-core decode saves (measured 0.5 s
    # as-is vs 1.0 s spread at sf0.1) — the spread lever only pays
    # when the per-row Python work dominates the few-MB shuffle.
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                if i % 2 == 0:
                    w, h, c = 4 + i % 13, 3 + i % 7, i % 256
                    payloads.append(encode_bmp(np.full((h, w, 3), c, np.uint8)))
                else:
                    n, s = 800 + (i % 50) * 40, (i % 100) - 50
                    payloads.append(encode_wav(np.full(n, s, np.int16)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    media = docs.mapInPandas(synth, "doc_id long, content binary")
    return decode_media_meta(media)


@register(
    "multimodal_decode_png",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 7  AS h,
               doc_id % 100    AS c
        FROM documents
    ), sums AS (
        SELECT doc_id, w, h, c,
               h * ((w * (w - 1)) // 2) AS sx,
               w * ((h * (h - 1)) // 2) AS sy
        FROM dims
    )
    SELECT doc_id,
           'png' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN h * w
                     ELSE 3 * h * w END AS BIGINT) AS n_samples,
           CAST(CASE WHEN doc_id % 2 = 0
                     THEN h * w * c + sx + 2 * sy
                     ELSE (h * w * c + sx + 2 * sy) + h * w * c + sx
                END AS BIGINT) AS px_sum
    FROM sums
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 with a REAL compressed codec (r5 VERDICT "What's missing"
    #4): per-doc PNGs — gray for even doc_ids, RGB for odd — are
    ENCODED executor-side with row filters cycling through all five
    PNG filter types ((doc_id + y) % 5), zlib-deflated, then DECODED
    by the stdlib-only PNG decoder in
    :mod:`metricproxy_spark.operators.multimodal` (chunk walk →
    inflate → Sub/Up/Average/Paeth defilter → channel reshape). Pixel
    values are the linear ramp x + 2y + c (c = doc_id %% 100, never
    wrapping), so the oracle re-derives the EXACT integer pixel sum
    from closed-form Σx/Σy — every byte of the decode path
    (filter recurrences included) is value-checked through an
    integer-only hash, no float tolerance anywhere. Both codec halves
    run in Arrow batches via mapInPandas; at 100 TB this is the
    map-only decode stage of a multimodal curation pipeline."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, c = 4 + i % 13, 3 + i % 7, i % 100
                x = np.arange(w, dtype=np.int16)[None, :]
                y = np.arange(h, dtype=np.int16)[:, None]
                ramp = (x + 2 * y + c).astype(np.uint8)
                if i % 2 == 0:
                    px = ramp
                else:
                    px = np.stack(
                        [
                            ramp,
                            np.full((h, w), c, np.uint8),
                            np.broadcast_to(
                                x.astype(np.uint8), (h, w)
                            ),
                        ],
                        axis=2,
                    )
                filts = [(i + yy) % 5 for yy in range(h)]
                blob = encode_png(px, row_filters=filts)
                meta, back = decode_png(blob)
                out.append(
                    (
                        i,
                        meta["format"],
                        meta["width"],
                        meta["height"],
                        int(back.size),
                        int(back.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_samples",
                    "px_sum",
                ],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, fmt string, width int, height int,"
        " n_samples long, px_sum long",
    )


@register(
    "multimodal_decode_png16",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 7  AS h,
               doc_id % 50     AS c
        FROM documents
    ), sums AS (
        SELECT doc_id, w, h, c,
               (w * (w - 1)) // 2 AS sx,
               (h * (h - 1)) // 2 AS sy
        FROM dims
    )
    SELECT doc_id,
           'png' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN h * w
                     ELSE 3 * h * w END AS BIGINT) AS n_samples,
           CAST(256 * h * sx + 513 * w * sy + 1000 * w * h * c
                + CASE WHEN doc_id % 2 = 0 THEN 0
                       ELSE 655 * w * h * c
                            + 4000 * w * h + 3 * h * sx + 7 * w * sy
                  END AS BIGINT) AS px_sum
    FROM sums
    """,
)
def multimodal_decode_png16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5, the round-7 PNG profile widening driven end-to-end: per-doc
    16-BIT PNGs written with ADAM7 INTERLACE and row filters cycling
    all five types per pass sub-image, then decoded by the stdlib-only
    decoder (seven independently-defiltered passes scattered on the
    ISO 15948 §8.2 grid, big-endian sample reassembly). Sample values
    are the 16-bit ramp 256·x + 513·y + 1000·c — far past uint8 range,
    so a decoder that truncated to 8 bits or mis-ordered sample bytes
    CANNOT reproduce the sum — and the oracle re-derives the exact
    integer pixel sum in closed form (gray for even doc_ids; odd adds
    RGB channels 655·c and 4000 + 3·x + 7·y). Same map-only
    mapInPandas shape as `multimodal_decode_png`; at 100 TB this is
    the decode stage over archival/scientific imagery, where 16-bit
    and interlaced files are common."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, c = 4 + i % 13, 3 + i % 7, i % 50
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                ramp = (256 * x + 513 * y + 1000 * c).astype(np.uint16)
                if i % 2 == 0:
                    px = ramp
                else:
                    px = np.stack(
                        [
                            ramp,
                            np.full((h, w), 655 * c, np.uint16),
                            (4000 + 3 * x + 7 * y).astype(np.uint16),
                        ],
                        axis=2,
                    )
                blob = encode_png(px, row_filters="cycle", interlace=True)
                meta, back = decode_png(blob)
                out.append(
                    (
                        i,
                        meta["format"],
                        meta["width"],
                        meta["height"],
                        int(back.size),
                        int(back.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_samples",
                    "px_sum",
                ],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, fmt string, width int, height int,"
        " n_samples long, px_sum long",
    )


@register(
    "multimodal_decode_jpeg",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 4 AS wb,
               1 + doc_id % 3 AS hb,
               doc_id % 100   AS c
        FROM documents
    )
    SELECT doc_id,
           'jpeg' AS fmt,
           CAST(8 * wb AS INT) AS width,
           CAST(8 * hb AS INT) AS height,
           CAST(64 * wb * hb AS BIGINT) AS n_samples,
           CAST(64 * (hb * ((wb * (wb - 1)) // 2)
                      + 2 * wb * ((hb * (hb - 1)) // 2)
                      + wb * hb * c) AS BIGINT) AS px_sum
    FROM dims
    """,
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 with the REAL lossy codec: per-doc baseline JPEGs run the
    FULL pipeline — forward DCT, quantization, zigzag, DC DPCM + AC
    run-length Huffman, 0xFF stuffing — through
    :mod:`metricproxy_spark.operators.jpeg`'s encoder, then the
    independent marker-parsing decoder. The payloads are PIECEWISE-
    FLAT on the 8×8 grid (block (bx,by) = bx + 2·by + c, never
    wrapping) with unit quant tables, the one regime where lossy JPEG
    is bit-exact (AC quantizes to 0, the DC path is integer after
    final rounding) — so the oracle re-derives the EXACT integer
    pixel sum in closed form and the whole codec chain is
    hash-checked with no float tolerance. General-content error
    bounds live in tests/test_jpeg.py. Both halves run executor-side
    in Arrow batches; map-only at any scale."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.jpeg import decode_jpeg, encode_jpeg

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                wb, hb, c = 1 + i % 4, 1 + i % 3, i % 100
                px = np.zeros((8 * hb, 8 * wb), np.uint8)
                for by in range(hb):
                    for bx in range(wb):
                        px[
                            8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8
                        ] = bx + 2 * by + c
                meta, back = decode_jpeg(encode_jpeg(px))
                out.append(
                    (
                        i,
                        meta["format"],
                        meta["width"],
                        meta["height"],
                        int(back.size),
                        int(back.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_samples",
                    "px_sum",
                ],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, fmt string, width int, height int,"
        " n_samples long, px_sum long",
    )


@register(
    "multimodal_decode_jpeg_dri",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               2 + doc_id % 5 AS wb,
               2 + doc_id % 3 AS hb,
               doc_id % 100   AS c,
               1 + doc_id % 5 AS ri
        FROM documents
        WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           CAST(8 * wb AS INT) AS width,
           CAST(8 * hb AS INT) AS height,
           CAST((wb * hb - 1) // ri AS INT) AS n_rst,
           CAST(64 * (hb * ((wb * (wb - 1)) // 2)
                      + 2 * wb * ((hb * (hb - 1)) // 2)
                      + wb * hb * c) AS BIGINT) AS px_sum
    FROM dims
    """,
)
def multimodal_decode_jpeg_dri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5, round-7 JPEG profile widening: restart intervals (DRI +
    RSTn, T.81 §B.2.4.4/§E.1.4) driven end-to-end. Per-doc baseline
    JPEGs in the bit-exact piecewise-flat regime are encoded with a
    PER-DOC restart interval (1 + doc_id % 5 MCUs), decoded back, and
    the query emits BOTH the exact integer pixel sum (proves resync +
    DC-predictor reset decode the stream correctly — a decoder that
    missed the reset would corrupt every post-RST DC level) AND the
    RST-marker count literally scanned from the wire bytes after SOS
    (proves the encoder really segments the stream; the oracle derives
    it as ⌊(MCUs−1)/interval⌋ in closed form). Map-only mapInPandas,
    same 100 TB shape as the other codec stages."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.jpeg import decode_jpeg, encode_jpeg

    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 3 == 0),
        spark,
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                wb, hb, c = 2 + i % 5, 2 + i % 3, i % 100
                ri = 1 + i % 5
                px = np.zeros((8 * hb, 8 * wb), np.uint8)
                for by in range(hb):
                    for bx in range(wb):
                        px[
                            8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8
                        ] = bx + 2 * by + c
                blob = encode_jpeg(px, restart_interval=ri)
                meta, back = decode_jpeg(blob)
                scan = blob[blob.index(b"\xff\xda") :]
                n_rst = sum(
                    scan[k] == 0xFF and 0xD0 <= scan[k + 1] <= 0xD7
                    for k in range(len(scan) - 1)
                )
                out.append(
                    (
                        i,
                        meta["width"],
                        meta["height"],
                        int(n_rst),
                        int(back.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "width", "height", "n_rst", "px_sum"],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, width int, height int, n_rst int, px_sum long",
    )


@register(
    "multimodal_decode_jpeg_progressive",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 4 AS wb,
               1 + doc_id % 3 AS hb,
               doc_id % 100   AS c
        FROM documents
        WHERE doc_id % 4 = 1
    )
    SELECT doc_id,
           CAST(8 * wb AS INT) AS width,
           CAST(8 * hb AS INT) AS height,
           CAST(4 + 2 * CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END
                AS INT) AS n_scans,
           CAST(64 * (hb * ((wb * (wb - 1)) // 2)
                      + 2 * wb * ((hb * (hb - 1)) // 2)
                      + wb * hb * c) AS BIGINT) AS px_sum
    FROM dims
    """,
)
def multimodal_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5, round-7: PROGRESSIVE JPEG (SOF2, T.81 Annex G) driven
    end-to-end. Per-doc piecewise-flat images are encoded with the
    four-stage progressive scan script (interleaved DC first at Al=1
    → per-component AC first → DC refinement → AC refinement, i.e.
    spectral selection AND successive approximation, EOBRUN and
    correction bits all on the wire) and decoded by the
    scan-accumulating decoder. In the flat + unit-quant regime the
    quantized coefficients are identical to baseline's, so the decode
    is bit-exact and the oracle re-derives the integer pixel sum in
    closed form; the query also emits the SOS count scanned from the
    wire (4 scans for gray, 8 = 2 + 3·2 for three-component YCbCr)
    proving the stream really is multi-scan. Map-only mapInPandas."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 4 == 1),
        spark,
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                wb, hb, c = 1 + i % 4, 1 + i % 3, i % 100
                flat = np.zeros((8 * hb, 8 * wb), np.uint8)
                for by in range(hb):
                    for bx in range(wb):
                        flat[
                            8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8
                        ] = bx + 2 * by + c
                if i % 2 == 0:
                    px = np.stack([flat, flat, flat], axis=2)
                else:
                    px = flat
                blob = encode_jpeg_progressive(px)
                meta, back = decode_jpeg(blob)
                gray_sum = (
                    int(back.sum(dtype=np.int64)) // 3
                    if back.ndim == 3
                    else int(back.sum(dtype=np.int64))
                )
                out.append(
                    (
                        i,
                        meta["width"],
                        meta["height"],
                        int(blob.count(b"\xff\xda")),
                        gray_sum,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "width", "height", "n_scans", "px_sum"],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, width int, height int, n_scans int, px_sum long",
    )


@register(
    "multimodal_decode_video",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 4 AS wb,
               1 + doc_id % 3 AS hb,
               doc_id % 90    AS c,
               2 + doc_id % 4 AS nf
        FROM documents
        WHERE doc_id % 5 = 0
    ), s AS (
        SELECT *, (nf + 1) // 2 AS n_sampled FROM dims
    )
    SELECT doc_id,
           'avi/mjpeg' AS fmt,
           CAST(8 * wb AS INT) AS width,
           CAST(8 * hb AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(n_sampled AS INT) AS n_sampled,
           CAST(nf * 100 AS BIGINT) AS duration_ms,
           CAST(64 * (n_sampled * (hb * ((wb * (wb - 1)) // 2)
                                   + 2 * wb * ((hb * (hb - 1)) // 2))
                      + wb * hb * (n_sampled * c
                                   + n_sampled * (n_sampled - 1)))
                AS BIGINT) AS px_sum
    FROM s
    """,
)
def multimodal_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 VIDEO with real codecs end to end: per-doc MJPEG AVI clips
    (2–5 frames at 10 fps; frame f is piecewise-flat bx + 2y_b + c + f
    on the 8×8 grid) are containerized executor-side, then DECODED by
    the RIFF walk + per-frame baseline-JPEG chain in
    :mod:`metricproxy_spark.operators.multimodal` /
    :mod:`~metricproxy_spark.operators.jpeg`, and every 2nd frame is
    SAMPLED (the standard video-curation stride). Unit quant keeps
    the flat-block regime bit-exact through the lossy codec, so the
    oracle re-derives frame count, duration, and the EXACT integer
    pixel sum over the sampled frames (Σ over even f of the
    closed-form per-frame sum) — container walk, entropy decode, and
    sampling all ride one integer hash. Map-only in Arrow batches at
    any scale."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    # video is SPARSE in a real corpus — 1 doc in 5 carries a clip
    # (the per-frame pure-Python entropy decode prices the rest out)
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id"),
        spark,
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                wb, hb, c = 1 + i % 4, 1 + i % 3, i % 90
                nf = 2 + i % 4
                frames = []
                for f in range(nf):
                    v = np.zeros((8 * hb, 8 * wb), np.uint8)
                    for by in range(hb):
                        for bx in range(wb):
                            v[
                                8 * by : 8 * by + 8,
                                8 * bx : 8 * bx + 8,
                            ] = bx + 2 * by + c + f
                    frames.append(v)
                meta, decoded = decode_avi_mjpeg(
                    encode_avi_mjpeg(frames, fps=10)
                )
                sampled = decoded[::2]
                out.append(
                    (
                        i,
                        meta["format"],
                        meta["width"],
                        meta["height"],
                        len(decoded),
                        len(sampled),
                        meta["duration_ms"],
                        int(
                            sum(
                                fr.sum(dtype=np.int64) for fr in sampled
                            )
                        ),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_frames",
                    "n_sampled",
                    "duration_ms",
                    "px_sum",
                ],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, fmt string, width int, height int, n_frames int,"
        " n_sampled int, duration_ms long, px_sum long",
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
    WITH wds AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), kg AS (
        SELECT doc_id,
            list_transform(range(1, len(w) - 1),
              i -> ((CAST(ascii(w[i]) * 1024 + length(w[i]) AS BIGINT) * 131
                     + CAST(ascii(w[i+1]) * 1024 + length(w[i+1]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+2]) * 1024 + length(w[i+2]) AS BIGINT))
                   % 1000000000000037
            ) AS kg
        FROM wds
    ), wins AS (
        SELECT doc_id,
            list_transform(range(1, len(kg) - 2),
              j -> {'pos': j + 4 - list_position(list_reverse(kg[j:j+3]),
                                                 list_min(kg[j:j+3])),
                    'fp': list_min(kg[j:j+3])}
            ) AS fps
        FROM kg
    )
    SELECT DISTINCT doc_id, f.pos AS pos, f.fp AS fp
    FROM wins, UNNEST(fps) AS t(f)
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4/L2: winnowing fingerprints (the MOSS algorithm) — guaranteed
    to share a fingerprint for any common run of ≥ k+w-1 words, the
    substring-matching primitive paragraph/suffix dedup builds on.
    Selection (k-gram hashing, window minima, rightmost tie-break) runs
    in the vectorized mapInPandas twin — per-partition numpy sliding
    windows, no shuffle (the array-HOF form is the executable spec,
    pytest-asserted row-identical, and slower here: 1.51–1.61 s against
    the twin's 1.08–1.24 s in ``bench.py`` at sf0.1 on 4 CPUs). Only
    the selected (pos, fp) pairs are shuffled for the row-dedup — ~2/w
    of the k-gram stream. ``spread`` widens the scan when the source
    produced fewer splits than cores (no-op at real scale)."""
    from metricproxy_spark.operators.text import (
        winnow_fingerprints_vectorized,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    return winnow_fingerprints_vectorized(docs).distinct()


@register(
    "pipeline_quality_filter",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, n_chars AS score FROM documents
    ), tot AS (
        SELECT count(*) AS n FROM scored
    ), hist AS (
        SELECT score, count(*) AS c FROM scored GROUP BY score
    ), cum AS (
        SELECT score, sum(c) OVER (ORDER BY score) AS cum FROM hist
    ), thr AS (
        SELECT min(CASE WHEN 10 * cum >= (SELECT n FROM tot)
                        THEN score END) AS lo,
               min(CASE WHEN 10 * cum >= 9 * (SELECT n FROM tot)
                        THEN score END) AS hi
        FROM cum
    )
    SELECT doc_id, lang, score
    FROM scored, thr
    WHERE score BETWEEN lo AND hi
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 curation: corpus-RELATIVE quality band — keep documents whose
    length score sits between the exact 10th and 90th corpus deciles
    (the C4/Gopher "outlier trim" move, where thresholds come from the
    corpus, not constants).

    Exactness without a corpus sort: deciles are derived from a score
    HISTOGRAM (groupBy score → cumulative count → first score crossing
    n/10 and 9n/10, all integer arithmetic — no float interpolation to
    disagree across engines). The only window runs over DISTINCT score
    values, bounded by the score domain, not the corpus; thresholds
    then broadcast back. At 100 TB: two tiny shuffles + a broadcast,
    nothing driver-side."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").alias("score")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    hist = docs.groupBy("score").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("score").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    thr = (
        cum.crossJoin(F.broadcast(total))
        .agg(
            F.min(F.when(10 * F.col("cum") >= F.col("n"), F.col("score"))).alias(
                "lo"
            ),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("score"))
            ).alias("hi"),
        )
    )
    return docs.crossJoin(F.broadcast(thr)).where(
        F.col("score").between(F.col("lo"), F.col("hi"))
    ).select("doc_id", "lang", "score")


@register(
    "text_repetition_signals",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), p AS (
        SELECT doc_id,
               list_transform(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT)),
                              i -> array_to_string(w[(i*8+1):(i*8+8)], ' '))
                   AS paras,
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                   AS bg
        FROM w
    )
    , b AS (
        SELECT doc_id, unnest(bg) AS big FROM p
    ), cnt AS (
        SELECT doc_id, big, count(*) AS c FROM b GROUP BY doc_id, big
    ), top AS (
        SELECT doc_id, max(c) AS top_cnt FROM cnt GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(len(paras) AS BIGINT) AS n_paras,
           round(1 - CAST(len(list_distinct(paras)) AS DOUBLE)
                     / CAST(len(paras) AS DOUBLE), 9) AS dup_para_frac,
           CAST(len(bg) AS BIGINT) AS n_bigrams,
           CAST(top.top_cnt AS BIGINT) AS top_bigram_cnt,
           round(CAST(top.top_cnt AS DOUBLE)
                     / CAST(len(bg) AS DOUBLE), 9) AS top_bigram_frac
    FROM p LEFT JOIN top ON p.doc_id = top.doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 quality: Gopher-style repetition signals (duplicate-paragraph
    fraction, most-frequent-bigram share) as ONE narrow projection —
    array HOFs only, no explode/groupBy shuffle, so the 100 TB cost is
    a linear scan bounded by per-document length. ``spread`` widens the
    scan when a small corpus arrives as fewer splits than cores (no-op
    at real scale)."""
    from metricproxy_spark.operators.text import repetition_signals_staged

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    return repetition_signals_staged(docs, "text")


@register(
    "dedup_paragraphs",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), p AS (
        SELECT doc_id,
               UNNEST(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS pos,
               w
        FROM w
    ), paras AS (
        SELECT doc_id, pos, array_to_string(w[(pos*8+1):(pos*8+8)], ' ') AS para
        FROM p
    ), ranked AS (
        SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        FROM paras
    )
    SELECT doc_id,
           count(*) AS n_kept,
           string_agg(para, ' ' ORDER BY pos) AS text_dedup
    FROM ranked WHERE rn = 1
    GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 at sub-document granularity (the RefinedWeb/Dolma paragraph
    pass): explode fixed-width word chunks standing in for paragraphs,
    keep only each paragraph's GLOBAL first occurrence (min
    (doc_id, pos) over a paragraph-keyed window), then reconstruct
    every document from its surviving paragraphs in original order.

    Scale shape: one shuffle keyed by paragraph text (bounded at
    para_words words — tens of bytes), one by doc_id for the rebuild;
    both are plain hash partitions with map-side-combinable aggs, no
    broadcast, no driver state."""
    from metricproxy_spark.operators.text import paragraph_chunks, words_of

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_of("text").alias("w")
    )
    paras = docs.select(
        "doc_id", F.posexplode(paragraph_chunks(F.col("w"))).alias("pos", "para")
    )
    first = F.min(F.struct("doc_id", "pos")).over(Window.partitionBy("para"))
    kept = paras.withColumn("_first", first).where(
        (F.col("doc_id") == F.col("_first.doc_id"))
        & (F.col("pos") == F.col("_first.pos"))
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("text_dedup"),
    )


@register(
    "text_tfidf",
    oracle="""
    WITH docs_n AS (
        SELECT count(*) AS n FROM documents
    ), terms AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS term_count
        FROM terms GROUP BY doc_id, term
    ), totals AS (
        SELECT doc_id, sum(term_count) AS doc_terms FROM tf GROUP BY doc_id
    ), dfreq AS (
        SELECT term, count(*) AS docs_with FROM tf GROUP BY term
    )
    SELECT tf.doc_id, tf.term,
           round(CAST(tf.term_count AS DOUBLE)
                 / CAST(totals.doc_terms AS DOUBLE), 9) AS tf,
           round(ln(CAST(n AS DOUBLE) / CAST(docs_with AS DOUBLE)), 6)
               AS idf,
           CAST(round(
                 CAST(round(CAST(tf.term_count AS DOUBLE)
                            / CAST(totals.doc_terms AS DOUBLE), 9)
                      AS DECIMAL(20,9))
                 * CAST(round(ln(CAST(n AS DOUBLE)
                                 / CAST(docs_with AS DOUBLE)), 6)
                        AS DECIMAL(20,6)),
                 6) AS DOUBLE) AS tfidf
    FROM tf
    JOIN totals USING (doc_id)
    JOIN dfreq USING (term)
    CROSS JOIN docs_n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: full TF-IDF matrix (doc_id, term, tf, idf, tfidf) computed
    with two hash aggregations and two joins — the document-frequency
    side is vocabulary-sized and broadcast, the corpus count rides in
    as a 1-row cross join (no driver collect). ln() is rounded to 6dp
    on both engines before the product so libm last-ulp differences
    cannot reach the hash; the product is rounded again at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    terms = docs.select(
        "doc_id", F.explode(words_of("text")).alias("term")
    )
    # tf feeds three consumers (per-doc totals, document frequency and
    # the join probe side) and the explode + shuffle agg would re-run
    # per consumer — one eager checkpoint of the aggregated
    # (doc, term, count) table runs it exactly once.
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .localCheckpoint()
    )
    totals = tf.groupBy("doc_id").agg(
        F.sum("term_count").alias("doc_terms")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("docs_with"))
    tf_col = F.round(
        F.col("term_count").cast("double")
        / F.col("doc_terms").cast("double"),
        9,
    )
    idf_col = F.round(
        F.log(
            F.col("n").cast("double") / F.col("docs_with").cast("double")
        ),
        6,
    )
    return (
        tf.join(totals, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            tf_col.alias("tf"),
            idf_col.alias("idf"),
            # multiply-and-round in EXACT decimal: the 9dp×6dp product
            # can land exactly on a .5e-6 boundary where Spark (decimal
            # HALF_UP on the shortest repr) and DuckDB (binary round)
            # disagree — decimal arithmetic rounds identically in both.
            F.round(
                tf_col.cast("decimal(20,9)") * idf_col.cast("decimal(20,6)"),
                6,
            )
            .cast("double")
            .alias("tfidf"),
        )
    )


@register(
    "pipeline_training_data",
    oracle="""
    WITH surv AS (
        SELECT min(doc_id) AS doc_id
        FROM documents GROUP BY lower(trim(text))
    ), feat AS (
        SELECT d.doc_id, d.lang,
               len(string_split(lower(trim(d.text)), ' ')) AS n_words,
               CAST(length(regexp_replace(lower(trim(d.text)),
                                          '[^a-z]', '', 'g')) AS DOUBLE)
                 / CAST(length(lower(trim(d.text))) AS DOUBLE) AS alpha,
               len(regexp_extract_all(lower(trim(d.text)),
                                      '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                 AS n_tokens
        FROM documents d JOIN surv USING (doc_id)
    ), kept AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY n_words DESC, doc_id ASC
               ) AS quality_rank
        FROM feat
        WHERE n_words >= 5 AND alpha >= 0.5
    )
    SELECT lang, doc_id, n_words, n_tokens, quality_rank
    FROM kept WHERE quality_rank <= 50
    """,
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-data curation in one declarative plan:
    exact dedup (survivor = min doc_id per normalized text) -> quality
    gate (word count + alpha ratio) -> tokenizer budget count (BPE-ish
    regex tokens) -> per-language top-50 selection by length. This is
    the composition the individual L1/L4 operators exist for; one
    dedup shuffle, one narrow feature projection, one window — every
    stage partition-scalable, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    surv = docs.groupBy(
        F.lower(F.trim(F.col("text"))).alias("_norm")
    ).agg(F.min("doc_id").alias("doc_id")).drop("_norm")
    norm = F.lower(F.trim(F.col("text")))
    feat = (
        docs.join(surv, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.size(F.split(norm, " ")).alias("n_words"),
            (
                F.length(F.regexp_replace(norm, "[^a-z]", "")).cast("double")
                / F.length(norm).cast("double")
            ).alias("alpha"),
            F.size(
                F.regexp_extract_all(
                    norm, F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0
                )
            ).cast("bigint").alias("n_tokens"),
        )
        .filter((F.col("n_words") >= 5) & (F.col("alpha") >= 0.5))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_words").desc(), F.col("doc_id").asc()
    )
    return (
        feat.withColumn("quality_rank", F.row_number().over(w))
        .filter(F.col("quality_rank") <= 50)
        .select(
            "lang",
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            "n_tokens",
            "quality_rank",
        )
    )


@register(
    "pipeline_train_test_split",
    oracle="""
    SELECT doc_id, lang,
           CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS h,
           CAST(((doc_id * 2654435761) % 4294967296) % 10 AS INT) AS bucket,
           CASE WHEN ((doc_id * 2654435761) % 4294967296) % 10 < 8 THEN 'train'
                WHEN ((doc_id * 2654435761) % 4294967296) % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def pipeline_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-reproducible train/valid/test split (80/10/10)
    via the Knuth multiplicative hash ``(id * 2654435761) mod 2^32`` —
    the assignment is a pure projection (no shuffle, no sample()), stable
    across runs/engines/partitionings, which is what a training pipeline
    needs so that re-runs never leak test docs into train. At 100 TB this
    is a map-only stage; for non-integer keys swap in xxhash64(key) (same
    shape, rows-only oracle since DuckDB lacks xxhash64)."""
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    bucket = (h % 10).cast("int")
    return docs.select(
        "doc_id",
        "lang",
        h.cast("bigint").alias("h"),
        bucket.alias("bucket"),
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "pipeline_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(trim(text)),
                                      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens
        FROM documents
    ), cum AS (
        SELECT doc_id, n_tokens,
               COALESCE(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS tokens_before
        FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(tokens_before // 512 AS BIGINT) AS seq_id,
           CAST(tokens_before % 512 AS BIGINT) AS seq_offset
    FROM cum
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign each doc a target
    training-sequence id by running token budget (512 tokens) over a
    deterministic doc order — docs may straddle a boundary (the pack
    step splits them), which keeps the op a prefix sum instead of a
    sequential greedy scan.

    DISTRIBUTED prefix sum (no global-order window): docs are bucketed
    into R contiguous doc_id ranges (min/max ride in on a 1-row
    broadcast), each range computes its local running sum under a
    PARTITIONED window, and the per-range grand totals (R rows) turn
    into range offsets via a prefix-sum window over the AGGREGATE —
    the only single-partition exchanges in the plan carry bounded
    data (the 1-row min/max partials and the R-row totals), never row
    data; tests/test_scale.py TestRound6PlanDiscipline asserts
    exactly that. tokens_before = range_offset + local_before is
    exact regardless of R, so the result is identical to the
    single-window form the oracle runs."""
    n_ranges = 32
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    toks = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(norm, F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
        ).cast("bigint").alias("n_tokens"),
    )
    bounds = toks.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    ranged = toks.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        F.least(
            F.lit(n_ranges - 1),
            F.floor(
                (F.col("doc_id") - F.col("mn"))
                * n_ranges
                / (F.col("mx") - F.col("mn") + 1)
            ),
        ).cast("int").alias("rg"),
    )
    w_local = (
        Window.partitionBy("rg")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "local_before", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    rg_tot = ranged.groupBy("rg").agg(F.sum("n_tokens").alias("rg_total"))
    w_rg = Window.orderBy("rg").rowsBetween(Window.unboundedPreceding, -1)
    rg_off = rg_tot.select(
        "rg",
        F.coalesce(F.sum("rg_total").over(w_rg), F.lit(0)).alias("rg_offset"),
    )
    cum = local.join(F.broadcast(rg_off), "rg").withColumn(
        "tokens_before", F.col("rg_offset") + F.col("local_before")
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("tokens_before") / 512).cast("bigint").alias("seq_id"),
        (F.col("tokens_before") % 512).cast("bigint").alias("seq_offset"),
    )


@register(
    "text_shingle_udtf",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS pos,
           array_to_string(list_slice(words, i, i + 2), ' ') AS shingle
    FROM w, unnest(generate_series(1, len(words) - 2)) AS t(i)
    WHERE len(words) >= 3
    """,
)
def text_shingle_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.9 UDTF surface: word 3-shingle expansion as a Python UDTF in
    a SQL LATERAL join — the one genuinely table-function-shaped op in
    the inventory (variable rows-per-input with positional state).
    Note the engine's hot dedup paths use the Catalyst higher-order
    equivalent (operators/dedup.py word_shingles) — this query proves
    the extension API end-to-end (pickled class shipped to workers,
    LATERAL correlation, schema contract), value-checked against the
    same expansion in plain SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, shingle string")
    class Shingle3:
        def eval(self, text: str):
            words = text.lower().strip().split(" ")
            for i in range(len(words) - 2):
                yield i, " ".join(words[i : i + 3])

    spark.udtf.register("mp_shingle3", Shingle3)
    docs = load_table(spark, sf_dir, "documents")
    # {docs} = parameterized DataFrame substitution — view-free.
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.shingle
        FROM {docs} d, LATERAL mp_shingle3(d.text) s
        """,
        docs=docs,
    )


@register(
    "pipeline_decontaminate",
    oracle="""
    WITH labeled AS (
        SELECT doc_id, text,
               CASE WHEN ((doc_id * 2654435761) % 4294967296) % 10 < 8
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents
    ), w AS (
        SELECT doc_id, split,
               string_split(lower(trim(text)), ' ') AS words
        FROM labeled
    ), sh AS (
        SELECT doc_id, split,
               array_to_string(list_slice(words, i, i + 2), ' ') AS shingle
        FROM w, unnest(generate_series(1, len(words) - 2)) AS t(i)
        WHERE len(words) >= 3
    ), eval_set AS (
        SELECT DISTINCT shingle FROM sh WHERE split = 'eval'
    )
    SELECT tr.doc_id AS train_doc,
           count(DISTINCT tr.shingle) AS n_shingles,
           count(DISTINCT CASE WHEN ev.shingle IS NOT NULL
                               THEN tr.shingle END) AS shared_shingles,
           (count(ev.shingle) > 0) AS is_contaminated
    FROM sh tr LEFT JOIN eval_set ev ON tr.shingle = ev.shingle
    WHERE tr.split = 'train'
    GROUP BY 1
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — flag training documents whose
    3-gram shingles leak into the held-out split, the step every
    benchmark-clean LLM corpus build runs after splitting.

    Deliberately NOT a doc×doc join: each train shingle is checked for
    membership in the (small by construction) distinct eval shingle
    set, so the join output is bounded by |train shingle rows| — a
    doc-pair formulation explodes quadratically on repetitive corpora
    (this testdata's tiny vocabulary makes that failure mode vivid).
    The eval set broadcasts; at 100 TB the train side streams through
    map-side hash probes with no wide shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        "text",
        F.when(
            ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296))
            % 10
            < 8,
            F.lit("train"),
        )
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    words = labeled.select(
        "doc_id",
        "split",
        F.split(F.lower(F.trim("text")), " ").alias("words"),
    )
    # No explicit dropDuplicates: distinctness folds into the final
    # aggregate (count DISTINCT), saving one full shuffle of the
    # exploded shingle stream.
    sh = words.filter(F.size("words") >= 3).select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(words) - 2),"
                " i -> concat_ws(' ', slice(words, i, 3)))"
            )
        ).alias("shingle"),
    )
    eval_set = (
        sh.filter(F.col("split") == "eval").select("shingle").distinct()
    )
    train = sh.filter(F.col("split") == "train")
    joined = train.join(
        F.broadcast(eval_set.withColumn("hit", F.lit(1))),
        "shingle",
        "left",
    )
    # Two-stage distinct: partial-agg on (doc, shingle) collapses this
    # corpus's heavy shingle repetition map-side, then the per-doc
    # rollup is tiny — measured 1.4x faster than the planner's
    # Expand-based double count-DISTINCT on the same input.
    per_shingle = joined.groupBy("doc_id", "shingle").agg(
        F.max("hit").alias("hit")
    )
    return per_shingle.groupBy(F.col("doc_id").alias("train_doc")).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("hit").alias("shared_shingles"),
        (F.count("hit") > 0).alias("is_contaminated"),
    )


@register(
    "text_pii_redact",
    oracle="""
    WITH synth AS (
        SELECT event_id,
               concat('contact user', user_id, ' at user', user_id,
                      '@mail.example or +1 555-',
                      lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0'),
                      ' re ', event_type) AS msg
        FROM events
    )
    SELECT event_id,
           regexp_replace(
               regexp_replace(msg, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
               '555-[0-9]{4}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(msg, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+')) AS n_emails,
           len(regexp_extract_all(msg, '555-[0-9]{4}')) AS n_phones
    FROM synth
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — scrub emails/phone patterns from free text and
    count what was removed, the compliance pass that runs before any
    corpus leaves the building. Pure regexp projection: map-only,
    whole-stage codegen, no shuffle at any scale. Patterns are written
    in the regex subset where Java (Spark) and RE2 (DuckDB) semantics
    coincide, so the oracle checks the redacted strings byte-for-byte.
    """
    ev = load_table(spark, sf_dir, "events")
    msg = F.concat(
        F.lit("contact user"),
        F.col("user_id").cast("string"),
        F.lit(" at user"),
        F.col("user_id").cast("string"),
        F.lit("@mail.example or +1 555-"),
        F.lpad((F.col("user_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re "),
        F.col("event_type"),
    )
    synth = ev.select("event_id", msg.alias("msg"))
    email = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
    phone = "555-[0-9]{4}"
    return synth.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace("msg", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("msg", F.lit(email), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("msg", F.lit(phone), 0))
        .cast("bigint")
        .alias("n_phones"),
    )


@register(
    "text_ngram_udtf_analyze",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS pos,
           words[i] AS w1, words[i + 1] AS w2, words[i + 2] AS w3
    FROM w, unnest(generate_series(1, len(words) - 2)) AS t(i)
    WHERE len(words) >= 3
    """,
)
def text_ngram_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.9 UDTF surface, polymorphic form: an ``analyze()``-time UDTF
    whose OUTPUT SCHEMA is computed from a constant argument — n=3
    yields columns (pos, w1, w2, w3); n=5 would yield 5 word columns,
    decided at plan time, not hardcoded. This is the PySpark 4
    table-function contract a reusable extension needs (schema
    negotiation with the analyzer, then pickled row expansion on
    workers); the static-schema flavor is text_shingle_udtf. Oracle:
    the same positional expansion in plain SQL at n=3.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NGramCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument):
            width = n.value  # constant-foldable argument at plan time
            fields = [StructField("pos", IntegerType())] + [
                StructField(f"w{i + 1}", StringType())
                for i in range(width)
            ]
            return AnalyzeResult(StructType(fields))

        def eval(self, text: str, n: int):
            words = text.lower().strip().split(" ")
            for i in range(len(words) - n + 1):
                yield (i, *words[i : i + n])

    spark.udtf.register("mp_ngram_cols", udtf(NGramCols))
    docs = load_table(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.w1, s.w2, s.w3
        FROM {docs} d, LATERAL mp_ngram_cols(d.text, 3) s
        """,
        docs=docs,
    )


@register(
    "text_topk_sketch",
    oracle="""
    WITH tokens AS (
        SELECT lang, UNNEST(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    )
    SELECT lang, word, count(*) AS n
    FROM tokens WHERE word <> ''
    GROUP BY 1, 2
    """,
)
def text_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters per language via the approx_top_k sketch — the
    bounded-memory, mergeable alternative to a full group-by when the
    term universe is huge: each partition tracks at most
    maxItemsTracked counters, partials merge associatively, and items
    under the bound carry EXACT counts. This corpus's vocabulary fits
    the bound, so the sketch degenerates to exactness and the plain
    count(*) oracle value-checks the sketch path end-to-end; at 100 TB
    the same plan caps state at k x partitions counters where the
    exact group-by's shuffle grows with distinct terms.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "lang", F.explode(words_of("text")).alias("word")
    ).filter(F.col("word") != "")
    sk = tokens.groupBy("lang").agg(
        F.expr("approx_top_k(word, 100, 10000)").alias("tk")
    )
    return sk.select(
        "lang", F.explode("tk").alias("e")
    ).select("lang", F.col("e.item").alias("word"), F.col("e.count").alias("n"))


@register(
    "pipeline_lang_balance",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_l FROM documents GROUP BY 1
    ), tot AS (
        SELECT sum(n_l) AS n FROM counts
    ), temp AS (
        SELECT lang, n_l,
               round(pow(CAST(n_l AS DOUBLE) / n, 0.7), 6) AS w
        FROM counts, tot
    ), rates AS (
        SELECT lang, n_l,
               round(least(1.0,
                   (w / sum(w) OVER ()) / (CAST(n_l AS DOUBLE)
                                           / (SELECT n FROM tot))), 6)
                   AS keep_rate
        FROM temp
    )
    SELECT d.doc_id, d.lang, r.keep_rate
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE CAST((d.doc_id * 2654435761) % 4294967296 AS BIGINT) % 1000000
          < CAST(r.keep_rate * 1000000 AS BIGINT)
    """,
)
def pipeline_lang_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual corpus rebalancing by temperature sampling
    (T=0.7): over-represented languages are down-sampled toward the
    tempered distribution p^T / sum(p^T) — the standard recipe for
    keeping low-resource languages from drowning in a training mix.

    Per-language keep-rates derive from one tiny count aggregate
    (broadcast back onto the corpus), and row membership is the
    multiplicative-hash filter — fully deterministic, re-runnable,
    engine-portable. The one transcendental (pow 0.7) is rounded to
    6dp on BOTH engines before any further arithmetic so libm
    differences cannot reach the comparison; the rate itself is
    rounded again before the integer threshold test.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    tot = counts.agg(F.sum("n_l").alias("n"))
    temp = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        "n",
        F.round(
            F.pow(F.col("n_l").cast("double") / F.col("n"), F.lit(0.7)), 6
        ).alias("w"),
    )
    wsum = temp.agg(F.sum("w").alias("ws"))
    rates = temp.crossJoin(F.broadcast(wsum)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("w") / F.col("ws"))
                / (F.col("n_l").cast("double") / F.col("n")),
            ),
            6,
        ).alias("keep_rate"),
    )
    joined = docs.join(F.broadcast(rates), "lang")
    h = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    ).cast("bigint") % 1000000
    return joined.filter(
        h < (F.col("keep_rate") * 1000000).cast("bigint")
    ).select("doc_id", "lang", "keep_rate")


@register(
    "text_common_span_frac",
    oracle="""
    WITH wds AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), kg AS (
        SELECT doc_id,
            list_transform(range(1, len(w) - 3),
              i -> ((((CAST(ascii(w[i]) * 1024 + length(w[i]) AS BIGINT) * 131
                     + CAST(ascii(w[i+1]) * 1024 + length(w[i+1]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+2]) * 1024 + length(w[i+2]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+3]) * 1024 + length(w[i+3]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+4]) * 1024 + length(w[i+4]) AS BIGINT))
                   % 1000000000000037
            ) AS kg
        FROM wds
    ), occ AS (
        SELECT doc_id, unnest(kg) AS fp FROM kg
    ), shared AS (
        SELECT fp FROM occ GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT o.doc_id,
           CAST(count(*) AS BIGINT) AS n_kgrams,
           CAST(count(s.fp) AS BIGINT) AS n_shared,
           round(CAST(count(s.fp) AS DOUBLE) / count(*), 9) AS shared_frac
    FROM occ o LEFT JOIN shared s ON o.fp = s.fp
    GROUP BY o.doc_id
    """,
)
def text_common_span_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2/L4 span-level contamination signal (the detection half of
    Lee et al. 2022's exact-substring dedup): fraction of a document's
    word-5-gram occurrences whose hash also appears in ANOTHER
    document. High fraction ⇒ boilerplate/mirror content.

    Scale shape: the k-gram occurrence stream is exploded once (~n
    words/doc rows, ids+int64 hashes only — no text leaves the scan);
    "shared" fps come from one hash agg with partial combine
    (count(DISTINCT doc) >= 2 over the fp key space), then a shuffle
    join on fp and a per-doc re-agg. Three key-hashed shuffles, no
    broadcast of anything corpus-sized, no driver state — the same
    shape as the PPJoin candidate stage. ``spread`` widens narrow
    scans (no-op at scale). Hashing is the Catalyst array-HOF
    :func:`~metricproxy_spark.operators.text.kgram_hashes`, no Python
    worker."""
    from metricproxy_spark.operators.text import kgram_hashes

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    occ = docs.select("doc_id", F.explode(kgram_hashes("text", 5)).alias("fp"))
    shared = (
        occ.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("fp", F.lit(1).alias("_shared"))
    )
    return (
        occ.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kgrams"),
            F.count("_shared").alias("n_shared"),
            F.round(
                F.count("_shared").cast("double") / F.count(F.lit(1)), 9
            ).alias("shared_frac"),
        )
    )


@register(
    "pipeline_per_class_cap",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, source,
               CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS h
        FROM documents
    ), ranked AS (
        SELECT doc_id, lang, source, h,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY h, doc_id) AS rn
        FROM h
    )
    SELECT doc_id, lang, source, h, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 50
    """,
)
def pipeline_per_class_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 curation: cap every class (language) at 50 documents with a
    CONSISTENT sample — rank classes by the Knuth multiplicative hash
    of the stable id and keep the lowest 50. Unlike sample()/limit()
    the kept set is a pure function of ids: re-runs, engine swaps and
    repartitioning all select the SAME documents, and growing the
    corpus only ever swaps docs whose hash rank crosses the boundary
    (bounded churn) — what per-class caps in training-data builds need.

    Scale: one window shuffle on the class key; per-class hash ranking
    is the same shape as top-k-per-group (AQE handles a skewed class).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).cast(
        "bigint"
    )
    ranked = docs.select("doc_id", "lang", "source", h.alias("h")).withColumn(
        "rn",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("h", "doc_id"))
        .cast("bigint"),
    )
    return ranked.where(F.col("rn") <= 50)


@register("pipeline_bpe_train")
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 tokenizer fitting: distributed BPE training (Sennrich 2016)
    with frequency batching — 6 merges learned up to 3 per round on
    the corpus word-vocabulary. The corpus is touched ONCE (word
    counts); every round then pair-counts the vocab (hash agg),
    collects one small top-slice, greedily picks mutually
    NON-INTERACTING pairs (disjoint symbol triples ⇒ their pre-round
    counts are exact), and applies the whole batch in one narrow vocab
    pass (persist/unpersist keeps lineage flat) — so driver
    round-trips scale as vocab/batch, the real-trainer shape where a
    32k vocab is ~thousands of rounds, not 32k. Deterministic
    (lexicographic tie-break, no RNG) but an iterative fixpoint ->
    rows-only check; the known-corpus merge sequence, batch-vs-classic
    degeneracy, and compression invariants are in tests/test_bpe.py."""
    from metricproxy_spark.operators.bpe import train_bpe_merges

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    merges = train_bpe_merges(docs, n_merges=6, batch_size=3)
    return spark.createDataFrame(
        [(m["rank"], m["left"], m["right"], m["pair_cnt"]) for m in merges],
        "rank int, left string, right string, pair_cnt bigint",
    )


@register(
    "dedup_exact_spans",
    oracle="""
    WITH wds AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), kg AS (
        SELECT doc_id,
            list_transform(range(1, len(w) - 3),
              i -> ((((CAST(ascii(w[i]) * 1024 + length(w[i]) AS BIGINT) * 131
                     + CAST(ascii(w[i+1]) * 1024 + length(w[i+1]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+2]) * 1024 + length(w[i+2]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+3]) * 1024 + length(w[i+3]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+4]) * 1024 + length(w[i+4]) AS BIGINT))
                   % 1000000000000037
            ) AS kg
        FROM wds
    ), occ AS (
        SELECT doc_id, t.o.pos AS pos, t.o.fp AS fp
        FROM kg, UNNEST(list_transform(range(1, len(kg) + 1),
                        i -> {'pos': i, 'fp': kg[i]})) AS t(o)
    ), ranked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY doc_id, pos) AS rn
        FROM occ
    ), covered AS (
        SELECT DISTINCT doc_id, pos + t.o AS wp
        FROM ranked, UNNEST(range(0, 5)) AS t(o)
        WHERE rn > 1
    ), wordrows AS (
        SELECT doc_id, t.o.wp AS wp, t.o.word AS word
        FROM wds, UNNEST(list_transform(range(1, len(w) + 1),
                         i -> {'wp': i, 'word': w[i]})) AS t(o)
    )
    SELECT r.doc_id,
           count(*) AS n_kept,
           string_agg(r.word, ' ' ORDER BY r.wp) AS text_dedup
    FROM wordrows r
    WHERE NOT EXISTS (SELECT 1 FROM covered c
                      WHERE c.doc_id = r.doc_id AND c.wp = r.wp)
    GROUP BY r.doc_id
    """,
)
def dedup_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 exact duplicated-SPAN removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", at word-5-gram
    granularity): every k-gram occurrence that is NOT the global first
    occurrence of its hash marks its 5 word positions as duplicated;
    documents are rebuilt from the surviving words. Finer than
    paragraph dedup — shared boilerplate is excised mid-document while
    unique prose around it survives.

    Scale shape: the occurrence stream (ids + int64 hashes, no text)
    shuffles once on fp for the first-occurrence window, once on
    (doc, word-pos) for the anti join, once on doc for the rebuild —
    all key-hashed, map-side-combinable or streaming-window stages;
    no broadcast of anything corpus-sized, no driver state. Hashing
    is the Catalyst array-HOF
    :func:`~metricproxy_spark.operators.text.kgram_hashes`, no Python
    worker."""
    from metricproxy_spark.operators.text import kgram_hashes, words_of

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    # occ feeds BOTH the first-occurrence agg and the covered join:
    # one eager checkpoint of the (ids + int64 hashes) stream runs the
    # kgram pass once instead of once per consumer.
    occ = (
        docs.select(
            "doc_id",
            F.posexplode(kgram_hashes("text", 5)).alias("p0", "fp"),
        )
        .select(
            "doc_id", (F.col("p0") + 1).cast("int").alias("pos"), "fp"
        )
        .localCheckpoint(eager=True)
    )
    # first occurrence per fp as a map-side-combinable MIN aggregate
    # (a row_number window would sort the whole occurrence stream per
    # fp partition; min(struct) partially combines before the shuffle)
    first = occ.groupBy("fp").agg(
        F.min(F.struct("doc_id", "pos")).alias("_first")
    )
    covered = (
        occ.join(first, "fp")
        .where(
            (F.col("doc_id") != F.col("_first.doc_id"))
            | (F.col("pos") != F.col("_first.pos"))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + 4)
            ).alias("wp"),
        )
        .distinct()
    )
    words = docs.select(
        "doc_id", F.posexplode(words_of("text")).alias("p0", "word")
    ).select("doc_id", (F.col("p0") + 1).alias("wp"), "word")
    kept = words.join(covered, ["doc_id", "wp"], "left_anti")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("wp", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("text_dedup"),
    )


@register(
    "pipeline_curation_end2end",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, text, n_chars AS score FROM documents
    ), tot AS (
        SELECT count(*) AS n FROM scored
    ), hist AS (
        SELECT score, count(*) AS c FROM scored GROUP BY score
    ), cum AS (
        SELECT score, sum(c) OVER (ORDER BY score) AS cum FROM hist
    ), thr AS (
        SELECT min(CASE WHEN 10 * cum >= (SELECT n FROM tot)
                        THEN score END) AS lo,
               min(CASE WHEN 10 * cum >= 9 * (SELECT n FROM tot)
                        THEN score END) AS hi
        FROM cum
    ), banded AS (
        SELECT s.* FROM scored s, thr WHERE s.score BETWEEN lo AND hi
    ), kept AS (
        SELECT min(doc_id) AS doc_id FROM banded
        GROUP BY lower(trim(text))
    ), enriched AS (
        SELECT b.doc_id, b.lang, b.score,
               CAST((b.doc_id * 2654435761) % 4294967296 AS BIGINT) AS h
        FROM banded b JOIN kept k ON b.doc_id = k.doc_id
    ), tagged AS (
        SELECT *,
               CASE WHEN h % 10 < 8 THEN 'train'
                    WHEN h % 10 = 8 THEN 'valid'
                    ELSE 'test' END AS split
        FROM enriched
    ), capped AS (
        SELECT *, row_number() OVER (PARTITION BY lang, split
                                     ORDER BY h, doc_id) AS rn
        FROM tagged
    )
    SELECT lang, split,
           count(*) AS n_docs,
           CAST(sum(score) AS BIGINT) AS sum_chars
    FROM capped WHERE rn <= 50
    GROUP BY lang, split
    """,
)
def pipeline_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 flagship composition — a complete training-data build in one
    plan: corpus-relative quality band (exact histogram deciles) →
    exact dedup (first occurrence per normalized text) → deterministic
    80/10/10 split (Knuth hash) → consistent per-(lang, split) cap →
    manifest counts. Every stage is hash/integer-deterministic, so the
    WHOLE pipeline is one exact DuckDB oracle — the property that makes
    a curation run auditable end to end.

    Scale: two key-space-bounded aggs (histogram, text-key dedup), one
    broadcast of two scalars, one window over (lang, split) groups, one
    final tiny agg. No driver state, nothing corpus-sized broadcast;
    each stage's shuffle key is content-derived, so the plan composes
    at 100 TB exactly as written."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", F.col("n_chars").alias("score")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    hist = docs.groupBy("score").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("score").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    # banded fans out to the dedup agg AND the enriched probe side, so
    # the 1-row threshold subtree (histogram + running-sum window +
    # corpus count) would re-derive per consumer — checkpoint the
    # scalars once; the corpus itself is never materialized.
    thr = (
        cum.crossJoin(F.broadcast(total))
        .agg(
            F.min(
                F.when(10 * F.col("cum") >= F.col("n"), F.col("score"))
            ).alias("lo"),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("score"))
            ).alias("hi"),
        )
        .localCheckpoint()
    )
    banded = docs.crossJoin(F.broadcast(thr)).where(
        F.col("score").between(F.col("lo"), F.col("hi"))
    )
    kept_ids = banded.groupBy(F.lower(F.trim("text")).alias("_key")).agg(
        F.min("doc_id").alias("doc_id")
    )
    enriched = banded.join(kept_ids.select("doc_id"), "doc_id").select(
        "doc_id",
        "lang",
        "score",
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296))
        .cast("bigint")
        .alias("h"),
    )
    tagged = enriched.withColumn(
        "split",
        F.when(F.col("h") % 10 < 8, F.lit("train"))
        .when(F.col("h") % 10 == 8, F.lit("valid"))
        .otherwise(F.lit("test")),
    )
    capped = tagged.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang", "split").orderBy("h", "doc_id")
        ),
    ).where(F.col("rn") <= 50)
    return capped.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").cast("bigint").alias("sum_chars"),
    )


@register(
    "pipeline_chunk_windows",
    oracle="""
    WITH wds AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               unnest(range(0, CAST(greatest(ceil((len(w) - 128) / 96.0) + 1, 1)
                                    AS BIGINT))) AS chunk_id,
               w
        FROM wds
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 96 + 1 AS INT) AS start_word,
           array_to_string(w[(chunk_id*96+1):(chunk_id*96+128)], ' ')
             AS chunk_text,
           CAST(len(w[(chunk_id*96+1):(chunk_id*96+128)]) AS INT)
             AS n_words
    FROM chunks
    """,
)
def pipeline_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 retrieval prep: split documents into OVERLAPPING 128-word
    chunks with stride 96 (32-word overlap) — the RAG-ingest shape
    (chunk ids are derivable, boundaries never split mid-word, the
    final partial chunk is kept, and no duplicate tail chunk is
    emitted when the last full window already reaches the end).
    Chunking is a narrow array-HOF projection + one explode: the chunk
    stream shuffles nowhere until a downstream consumer keys it. Chunk
    count per doc = max(ceil((n-128)/96) + 1, 1), identical stride
    arithmetic in both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words_of("text").alias("w")
    )
    n_chunks = F.greatest(
        F.ceil((F.size("w") - 128) / 96.0) + 1, F.lit(1)
    ).cast("bigint")
    chunks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        "w",
    )
    piece = F.slice(F.col("w"), F.col("chunk_id") * 96 + 1, 128)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id") * 96 + 1).cast("int").alias("start_word"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("int").alias("n_words"),
    )


@register(
    "pipeline_domain_mixture",
    oracle="""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
               CAST(count(*) AS BIGINT) AS n_sources
        FROM per
    )
    SELECT source, n_docs, sum_chars,
           round(CAST(n_docs AS DOUBLE) / total_docs, 9) AS share,
           round((CAST(total_docs AS DOUBLE) / n_sources)
                 / n_docs, 9) AS uniform_weight,
           CAST(least(n_docs,
                CAST(ceil(total_docs / (1.0 * n_sources)) AS BIGINT))
             AS BIGINT) AS capped_quota
    FROM per, tot
    """,
)
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 curation: domain-mixture reweighting manifest — per-source
    counts, current share, the sampling weight that would flatten the
    mixture to uniform-over-sources, and the per-source quota when
    capped at ceil(total/n_sources) (the DoReMi-style first step of
    rebalancing a crawl). One key-space-bounded agg + a two-scalar
    broadcast; all ratios derive from identical integers in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sum_chars",
        F.round(F.col("n_docs").cast("double") / F.col("total_docs"), 9).alias(
            "share"
        ),
        F.round(
            (F.col("total_docs").cast("double") / F.col("n_sources"))
            / F.col("n_docs"),
            9,
        ).alias("uniform_weight"),
        F.least(
            F.col("n_docs"),
            F.ceil(F.col("total_docs") / (1.0 * F.col("n_sources"))).cast(
                "bigint"
            ),
        )
        .cast("bigint")
        .alias("capped_quota"),
    )


@register("multimodal_audio_spectral")
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 real audio DSP: synthesize a deterministic PCM-16 sine tone
    per document (freq = 200 + (doc_id % 20)·40 Hz, 0.2 s @ 8 kHz),
    then run the REAL decode → rfft feature chain (RMS, ZCR, spectral
    centroid, rolloff, dominant bin). Rows-only (FFT has no SQL twin);
    tone-recovery exactness (dominant == synthesized freq) is value-
    tested in tests/test_multimodal_features.py. Scale: synth+decode+
    FFT are one narrow mapInPandas pass each — no shuffle anywhere."""
    from typing import Iterator

    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        audio_spectral_features,
        encode_wav,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        sr, dur = 8000, 0.2
        t = np.arange(int(sr * dur)) / sr
        for pdf in batches:
            payloads = [
                encode_wav(
                    (8000 * np.sin(2 * np.pi * (200 + (int(d) % 20) * 40) * t)).astype(
                        np.int16
                    ),
                    sr,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    media = docs.mapInPandas(synth, "doc_id long, content binary")
    return audio_spectral_features(media)


@register("multimodal_image_stats")
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 real image statistics: synthesize a deterministic 24bpp BMP
    gradient per document (size and pixel pattern derived from
    doc_id), then run the REAL decode → numpy stats chain (brightness
    mean/std, channel means, gradient edge energy). Rows-only; pixel-
    exact values are asserted in tests/test_multimodal_features.py
    against the closed-form pattern. One narrow mapInPandas pass."""
    from typing import Iterator

    import pandas as pd

    from metricproxy_spark.operators.multimodal import encode_bmp, image_stats

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 8, 8 + d % 5
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (x * 3 + y * 5 + d) % 256,
                        (x * 7 + y) % 256,
                        (x + y * 11 + 2 * d) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": payloads})

    media = docs.mapInPandas(synth, "doc_id long, content binary")
    return image_stats(media)


@register(
    "pipeline_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               round(pow(
                   (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 1.0)
                       / 4294967296.0,
                   1.0 / n_chars), 9) AS es_key
        FROM documents
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY es_key DESC, doc_id) AS rn
        FROM keyed
    )
    SELECT doc_id, lang, n_chars, es_key, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 20
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 curation: weighted sampling without replacement, 20 docs per
    language with inclusion probability ∝ n_chars — the Efraimidis-
    Spirakis scheme (key = u^(1/w), keep the largest keys), with the
    uniform u derived from the Knuth hash of the stable id instead of
    an RNG: the sample is reproducible across runs/engines/partitions,
    the property sample() cannot give. Keys round to 9dp before
    ranking (ties break on doc_id) so the one cross-engine pow() ulp
    cannot reorder. Scale: pure projection + the same WindowGroupLimit-
    pushed top-N per class as the cap query."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).cast(
            "double"
        )
        + 1.0
    ) / 4294967296.0
    es_key = F.round(F.pow(u, 1.0 / F.col("n_chars")), 9)
    ranked = docs.select(
        "doc_id", "lang", "n_chars", es_key.alias("es_key")
    ).withColumn(
        "rn",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.col("es_key").desc(), F.col("doc_id").asc()
            )
        )
        .cast("bigint"),
    )
    return ranked.where(F.col("rn") <= 20)


@register("pipeline_tokenizer_report")
def pipeline_tokenizer_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 tokenizer loop closed: train 4 BPE merges on the corpus,
    APPLY them corpus-wide, and report per-language compression —
    words, post-BPE tokens, chars, tokens-per-word and chars-per-token
    (the numbers a tokenizer team actually reviews). Training iterates
    on the vocab (see pipeline_bpe_train); application is one narrow
    mapInPandas pass with the merge table in the closure; the report
    is a |langs|-bounded agg. Rows-only (iterative trainer upstream);
    the trainer/applier pair is value-tested in tests/test_bpe.py."""
    from metricproxy_spark.operators.bpe import apply_bpe, train_bpe_merges

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    merges = train_bpe_merges(docs, n_merges=4)
    toks = apply_bpe(docs, merges)
    enriched = toks.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id",
    )
    return enriched.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("words"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        F.round(
            F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
        ).alias("tokens_per_word"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_tokens"), 6
        ).alias("chars_per_token"),
    )


@register(
    "text_bigram_coverage",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), b AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i+1])) AS big
        FROM w
    ), corpus AS (
        SELECT big, count(*) AS c FROM b GROUP BY big
    ), per_doc AS (
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               count(*) FILTER (WHERE corpus.c < 3) AS n_rare
        FROM b JOIN corpus ON b.big = corpus.big
        GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.n_rare, 0) AS n_rare,
           CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                THEN 1000 * (p.n_bigrams - p.n_rare) // p.n_bigrams
           END AS common_permille
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model coverage scoring (the count-based heart of
    n-gram LM quality filters, cf. CCNet's LM-perplexity gate): train
    corpus-wide bigram counts in one pass, then score each document by
    how much of it is made of common bigrams (corpus count ≥ 3).
    Integer permille keeps the score hash-exact; docs with <2 words
    surface with NULL coverage rather than silently dropping. Shape:
    explode → one hash agg for the model, one shuffle join occurrence→
    count (both sides keyed on the bigram; skew on stop-bigrams is the
    documented salting case), one per-doc agg. No driver state — the
    "model" stays distributed."""
    docs = load_table(spark, sf_dir, "documents")
    # Stage the split into its own projection: built inline, Catalyst
    # inlines the (non-cheap) split/lower/trim into every element_at of
    # the transform lambda — 2 re-splits per bigram. Staged, it computes
    # once per row (CollapseProject won't duplicate non-cheap exprs).
    w_df = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    w = F.col("w")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = w_df.select(
        "doc_id", F.explode(bigrams).alias("big")
    )
    corpus = occ.groupBy("big").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        occ.join(corpus, "big")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_if(F.col("c") < 3).alias("n_rare"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_rare", F.lit(0)).alias("n_rare"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                1000
                * (F.col("n_bigrams") - F.col("n_rare"))
                / F.col("n_bigrams"),
            ).cast("bigint").alias("common_permille"),
        )
    )


@register(
    "pipeline_lm_typicality",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents
    ), w2 AS (
        SELECT doc_id, w FROM words WHERE w <> ''
    ), vocab AS (
        SELECT w, count(*) AS cnt FROM w2 GROUP BY w
    ), consts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT w) AS BIGINT) AS v_size
        FROM w2
    ), per_doc AS (
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(v.cnt + 1) AS BIGINT) AS sum_cnt
        FROM w2 d JOIN vocab v ON d.w = v.w
        GROUP BY d.doc_id
    )
    SELECT p.doc_id, p.n_tok, p.sum_cnt,
           round(CAST(p.sum_cnt AS DOUBLE)
                 / (CAST(p.n_tok AS DOUBLE) * (c.n_tokens + c.v_size)),
                 9) AS typicality
    FROM per_doc p, consts c
    """,
)
def pipeline_lm_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 quality signal, CCNet-flavored: per-doc mean add-one-smoothed
    unigram probability under the corpus LM — common-word-heavy docs
    score high, gibberish scores low (the cheap stand-in for KenLM
    perplexity filtering). Everything stays INTEGER until one final
    division of exact BIGINTs (Σ(cnt+1), n_tok·(N+V)) rounded to 9dp,
    so both engines agree bit-for-bit — no per-token log-sum float
    drift. Shape: one token explode, one vocab hash agg, one
    shuffled equi-join token→count (the LM is corpus-sized and stays
    DISTRIBUTED — no driver vocabulary), one per-doc agg, and the two
    corpus constants ride a 1-row broadcast cross join."""
    docs = load_table(spark, sf_dir, "documents")
    w2 = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), " ")
        ).alias("w"),
    ).where(F.col("w") != "")
    vocab = w2.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    consts = w2.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("w").alias("v_size"),
    )
    per_doc = (
        w2.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.col("cnt") + 1).alias("sum_cnt"),
        )
    )
    return per_doc.crossJoin(F.broadcast(consts)).select(
        "doc_id",
        "n_tok",
        "sum_cnt",
        F.round(
            F.col("sum_cnt").cast("double")
            / (
                F.col("n_tok").cast("double")
                * (F.col("n_tokens") + F.col("v_size"))
            ),
            9,
        ).alias("typicality"),
    )


@register(
    "text_bm25_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               len(string_split(lower(trim(text)), ' ')) AS dl,
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'hash')) AS tf_hash,
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'join')) AS tf_join,
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'window')) AS tf_window
        FROM documents
    ), corpus AS (
        SELECT count(*) AS n,
               CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl,
               SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
               SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
               SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
        FROM toks
    ), scored AS (
        SELECT doc_id, dl, tf_hash, tf_join, tf_window,
            CAST(
              ROUND(CAST(ROUND(ln(1 + (n - df_hash + 0.5) / (df_hash + 0.5)), 6) AS DECIMAL(20,6))
                * CAST(ROUND(tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS DECIMAL(20,9)), 6)
            + ROUND(CAST(ROUND(ln(1 + (n - df_join + 0.5) / (df_join + 0.5)), 6) AS DECIMAL(20,6))
                * CAST(ROUND(tf_join * 2.2 / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS DECIMAL(20,9)), 6)
            + ROUND(CAST(ROUND(ln(1 + (n - df_window + 0.5) / (df_window + 0.5)), 6) AS DECIMAL(20,6))
                * CAST(ROUND(tf_window * 2.2 / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS DECIMAL(20,9)), 6)
            AS DOUBLE) AS score
        FROM toks CROSS JOIN corpus
    )
    SELECT doc_id, dl, tf_hash, tf_join, tf_window, score
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4/L3: BM25 retrieval scoring (Robertson/Spärck Jones; the
    lexical-search baseline every RAG corpus pipeline ranks with) for
    the fixed query {hash, join, window}: k1=1.2, b=0.75,
    idf = ln(1 + (N−df+0.5)/(df+0.5)), top-20 by score.

    Plan shape: per-doc term frequencies come from ``size(filter(...))``
    on the already-split token array — MAP-ONLY, no explode shuffle;
    corpus stats (N, avgdl, per-term df) reduce to ONE row that rides
    back on a broadcast cross join; top-k is TakeOrdered (no full
    sort). At 100 TB: one scan + a 1-row broadcast + a bounded top-k.

    Exactness discipline (same as text_tfidf): idf is rounded to 6dp
    and the per-term weight to 9dp BEFORE a decimal product, the three
    term contributions are summed in a FIXED expression order, and the
    final score rounds once more at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(words_of("text")).cast("bigint").alias("dl"),
        *[
            F.size(
                F.filter(words_of("text"), lambda x: x == F.lit(t))
            ).cast("bigint").alias(f"tf_{t}")
            for t in ("hash", "join", "window")
        ],
    )
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).alias(f"df_{t}")
            for t in ("hash", "join", "window")
        ],
    )

    def term_score(t: str):
        idf = F.round(
            F.log(
                1
                + (F.col("n") - F.col(f"df_{t}") + 0.5)
                / (F.col(f"df_{t}") + 0.5)
            ),
            6,
        ).cast("decimal(20,6)")
        w = F.round(
            F.col(f"tf_{t}")
            * 2.2
            / (
                F.col(f"tf_{t}")
                + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
            ),
            9,
        ).cast("decimal(20,9)")
        return F.round(idf * w, 6)

    scored = toks.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "dl",
        "tf_hash",
        "tf_join",
        "tf_window",
        (
            term_score("hash") + term_score("join") + term_score("window")
        ).cast("double").alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        20
    )


@register(
    "pipeline_pack_greedy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, doc_id % 16 AS shard,
               CAST(len(regexp_extract_all(lower(trim(text)),
                    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS t
        FROM documents
    ), grp AS (
        SELECT shard,
               list(doc_id ORDER BY doc_id) AS ids,
               list(t ORDER BY doc_id) AS ts
        FROM toks GROUP BY shard
    ), folded AS (
        SELECT shard, ids, ts,
            list_reduce(
                list_prepend([ts[1], CAST(0 AS BIGINT)],
                    list_transform(list_slice(ts, 2, len(ts)),
                                   x -> [x, CAST(0 AS BIGINT)])),
                (acc, e) -> list_concat(acc,
                    [CASE WHEN acc[-2] + e[1] > 512 AND acc[-2] > 0
                          THEN e[1] ELSE acc[-2] + e[1] END,
                     CASE WHEN acc[-2] + e[1] > 512 AND acc[-2] > 0
                          THEN acc[-1] + 1 ELSE acc[-1] END])
            ) AS st
        FROM grp
    )
    SELECT shard,
           ids[i] AS doc_id,
           ts[i] AS n_tokens,
           st[2 * i] AS seq_in_shard,
           st[2 * i - 1] - ts[i] AS seq_offset
    FROM folded, unnest(generate_series(1, len(ids))) AS u(i)
    """,
)
def pipeline_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY (non-splitting) sequence packing — the trainer-data
    sibling of `pipeline_pack_sequences`: a doc never straddles a
    boundary; a new 512-token sequence starts when the next doc
    doesn't fit, and an oversized doc gets a sequence of its own
    (overflowing, never split). Real pipelines pack WITHIN SHARDS
    (each data-loader shard is packed independently), which is what
    makes the inherently sequential scan distributable: shard =
    doc_id % 16 here, thousands of hash shards at 100 TB, each
    shard's fold bounded by `guarded_series` (the EMA/Holt memory
    contract). The fold itself is one JVM `aggregate` HOF appending
    (used, seq) state pairs; the oracle runs the IDENTICAL recurrence
    via DuckDB list_reduce with a POSITIONAL list accumulator, so the
    sequential greedy decisions — not just totals — are value-checked
    exactly."""
    from metricproxy_spark.operators.scale import guarded_series

    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("shard"),
        F.size(
            F.regexp_extract_all(norm, F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
        ).cast("bigint").alias("t"),
    )
    series = guarded_series(toks, ["shard"], ["doc_id", "t"])
    staged = series.select(
        "shard",
        F.expr("transform(rows, r -> r.doc_id)").alias("ids"),
        F.expr("transform(rows, r -> r.t)").alias("ts"),
    )
    folded = staged.withColumn(
        "st",
        F.expr(
            """
            aggregate(
              slice(ts, 2, size(ts) - 1),
              array(element_at(ts, 1), 0L),
              (acc, t) -> concat(acc, array(
                IF(element_at(acc, -2) + t > 512L
                   AND element_at(acc, -2) > 0L,
                   t, element_at(acc, -2) + t),
                IF(element_at(acc, -2) + t > 512L
                   AND element_at(acc, -2) > 0L,
                   element_at(acc, -1) + 1L, element_at(acc, -1))
              )))
            """
        ),
    )
    i = F.col("i")
    return (
        folded.select(
            "shard",
            "ids",
            "ts",
            "st",
            F.posexplode(F.expr("sequence(1, size(ids))")).alias("_p", "i"),
        )
        .select(
            "shard",
            F.element_at("ids", i).alias("doc_id"),
            F.element_at("ts", i).alias("n_tokens"),
            F.element_at("st", (i * 2).cast("int")).alias("seq_in_shard"),
            (
                F.element_at("st", (i * 2 - 1).cast("int"))
                - F.element_at("ts", i)
            ).alias("seq_offset"),
        )
    )


@register(
    "multimodal_resize",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               16 + 8 * (doc_id % 3) AS w,
               16 + 8 * (doc_id % 2) AS h,
               doc_id % 100 AS c
        FROM documents
    ), mx AS (
        SELECT doc_id,
               SUM(((i * w) // 16 + ((i + 1) * w) // 16 - 1) / 2.0)
                   AS sum_mean_x
        FROM dims, unnest(generate_series(0, 15)) AS t(i)
        GROUP BY doc_id
    ), my AS (
        SELECT doc_id,
               SUM(((i * h) // 16 + ((i + 1) * h) // 16 - 1) / 2.0)
                   AS sum_mean_y
        FROM dims, unnest(generate_series(0, 15)) AS t(i)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.w AS INT) AS in_w,
           CAST(d.h AS INT) AS in_h,
           CAST(256 AS BIGINT) AS out_n,
           16 * mx.sum_mean_x + 32 * my.sum_mean_y + 256 * d.c
               AS resized_sum
    FROM dims d
    JOIN mx ON mx.doc_id = d.doc_id
    JOIN my ON my.doc_id = d.doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 preprocessing RESIZE: per-doc PNGs of varying size (16/24/32
    px per axis — uneven 16-bin boxes on the 24s) decode through the
    real codec and downscale by AREA AVERAGING (`resize_area`, the
    cv2.INTER_AREA-equivalent every image pipeline standardizes on).
    The pixel ramp x + 2y + c is linear, so each box mean is the ramp
    at the box's integer-edge center — a closed form the oracle
    recomputes per output cell via generate_series, and every value
    is a dyadic half (exact in float64 REGARDLESS of summation
    order), so the resized pixel sum hash-matches with no rounding.
    Decode + resize run map-only in Arrow batches."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_png,
        encode_png,
        resize_area,
    )

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def work(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h, c = 16 + 8 * (i % 3), 16 + 8 * (i % 2), i % 100
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                ramp = (x + 2 * y + c).astype(np.uint8)
                _meta, px = decode_png(encode_png(ramp))
                small = resize_area(px, 16, 16)
                out.append((i, w, h, small.size, float(small.sum())))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "in_w", "in_h", "out_n", "resized_sum"],
            )

    return docs.mapInPandas(
        work,
        "doc_id long, in_w int, in_h int, out_n long, resized_sum double",
    )


@register(
    "multimodal_resample_audio",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               96 + 16 * (doc_id % 5) AS n_src,
               1 + doc_id % 3 AS a,
               (doc_id % 50) - 25 AS b
        FROM documents
    )
    SELECT doc_id,
           CAST(n_src AS INT) AS n_src,
           CAST(2 * (n_src - 1) + 1 AS BIGINT) AS n_out,
           -- linear signal s[n] = a*n + b upsampled 2x: out[j] =
           -- a*(j/2) + b, all dyadic halves -> the float64 sum is
           -- exact in any order: sum_j a*j/2 + b*n_out
           a * (2 * (n_src - 1) + 1) * (2 * (n_src - 1)) / 4.0
             + CAST(b * (2 * (n_src - 1) + 1) AS DOUBLE) AS sum_resampled
    FROM dims
    """,
)
def multimodal_resample_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 audio preprocessing RESAMPLE: per-doc PCM-16 WAV clips
    (linear ramp a·n + b) decode through the real RIFF parser and
    upsample 2× by linear interpolation (`resample_linear`). At the
    2× ratio every interpolation position is a dyadic half, so the
    resampled values and their float64 sum are EXACT in any summation
    order — the oracle reduces the whole chain to the closed form
    Σ a·j/2 + b·n_out. Decode + resample run map-only in Arrow
    batches; arbitrary-ratio behavior is bounded in pytest."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        resample_linear,
    )

    # NO spread(): the ~100-sample WAV resample kernel is cheap — the
    # exchange costs more than the single-core pass (measured net loss).
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def work(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                n_src = 96 + 16 * (i % 5)
                a, b = 1 + i % 3, (i % 50) - 25
                sig = (a * np.arange(n_src) + b).astype(np.int16)
                _meta, s = decode_wav(encode_wav(sig, sample_rate=8000))
                res = resample_linear(s, 8000, 16000)
                out.append((i, n_src, res.shape[0], float(res.sum())))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_src", "n_out", "sum_resampled"]
            )

    return docs.mapInPandas(
        work,
        "doc_id long, n_src int, n_out long, sum_resampled double",
    )


_HTML_STRIP_STEPS = (
    # (pattern, replacement) applied in order, identical in both
    # engines (Spark Java regex / DuckDB RE2 agree on this subset)
    (r"<script>.*?</script>", ""),
    (r"<style>.*?</style>", ""),
    (r"<!--.*?-->", ""),
    (r"<[^>]+>", " "),
    (r" +", " "),
)


@register(
    "text_html_extract",
    oracle="""
    WITH page AS (
        SELECT doc_id,
               '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
               || '</title><script>var x=' || CAST(doc_id AS VARCHAR)
               || ';</script><style>p{color:red}</style></head>'
               || '<body><div class="nav">home about</div><p>'
               || text || '</p><!-- trailer --></body></html>' AS html
        FROM documents
    ), ext AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(html,
                    '<script>.*?</script>', '', 'g'),
                    '<style>.*?</style>', '', 'g'),
                    '<!--.*?-->', '', 'g'),
                    '<[^>]+>', ' ', 'g'),
                    ' +', ' ', 'g')) AS extracted
        FROM page
    )
    SELECT doc_id,
           length(extracted) AS n_chars,
           len(string_split(extracted, ' ')) AS n_words,
           substring(extracted, 1, 48) AS head
    FROM ext
    """,
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus text extraction — the step every training pipeline
    runs before quality filtering: strip script/style blocks, drop
    comments, flatten tags to spaces, collapse whitespace (the
    boilerplate-stripping core of trafilatura-class extractors,
    minus DOM heuristics). Pages are synthesized around the document
    text (title + nav + script + comment chrome), extraction is a
    fixed JVM regexp_replace chain — whole-stage codegen, zero Python
    — and the oracle runs the IDENTICAL chain in DuckDB, so the
    extracted STRINGS (not just counts) are value-checked. Map-only
    at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x="),
        F.col("doc_id").cast("string"),
        F.lit(';</script><style>p{color:red}</style></head>'),
        F.lit('<body><div class="nav">home about</div><p>'),
        F.col("text"),
        F.lit("</p><!-- trailer --></body></html>"),
    )
    extracted = html
    for pat, rep in _HTML_STRIP_STEPS:
        extracted = F.regexp_replace(extracted, pat, rep)
    extracted = F.trim(extracted)
    return docs.select(
        "doc_id",
        F.length(extracted).alias("n_chars"),
        F.size(F.split(extracted, " ")).alias("n_words"),
        F.substring(extracted, 1, 48).alias("head"),
    )


@register(
    "pipeline_url_canonicalize",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               'https://WWW.Site' || CAST(doc_id % 7 AS VARCHAR)
               || '.COM/art/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
               || '&utm_campaign=x'
               || CASE WHEN doc_id % 2 = 0 THEN '#section2' ELSE '' END
                   AS url
        FROM documents
    ), canon AS (
        SELECT doc_id, url,
            regexp_replace(regexp_replace(regexp_replace(
                lower(regexp_extract(url, '^https?://[^/]+'))
                || regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(url, '^https?://[^/]+', ''),
                               '#.*', ''),
                           '\\?', '?&'),
                       '&utm_[^&]*', '', 'g'),
                '\\?&', '?'), '\\?$', ''), '/$', '') AS canon_url
        FROM urls
    )
    SELECT doc_id, url, canon_url,
           CAST(doc_id % 7 AS BIGINT) AS host_group
    FROM canon
    """,
)
def pipeline_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the key for web-corpus dedup and
    per-host rate accounting: lowercase the scheme+host (case-
    insensitive per RFC 3986), drop the fragment, strip utm_*
    tracking params (normalizing the ?/& boundary), drop empty query
    strings and trailing slashes. A pure regexp pipeline (no UDF, no
    parse_url — DuckDB has no twin for that builtin, and regexp keeps
    both engines running the IDENTICAL normalization), value-checked
    string-for-string. Docs synthesize mixed-case hosts, trailing
    slashes, tracking params and fragments deterministically. At
    100 TB: map-only; canonical URL becomes the exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW.Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM/art/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("&utm_campaign=x"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#section2")).otherwise(
            F.lit("")
        ),
    )
    host = F.lower(F.regexp_extract(url, r"^https?://[^/]+", 0))
    rest = F.regexp_replace(url, r"^https?://[^/]+", "")
    rest = F.regexp_replace(rest, r"#.*", "")
    rest = F.regexp_replace(rest, r"\?", "?&")
    rest = F.regexp_replace(rest, r"&utm_[^&]*", "")
    canon = F.concat(host, rest)
    canon = F.regexp_replace(canon, r"\?&", "?")
    canon = F.regexp_replace(canon, r"\?$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    return docs.select(
        "doc_id",
        url.alias("url"),
        canon.alias("canon_url"),
        (F.col("doc_id") % 7).cast("bigint").alias("host_group"),
    )


@register(
    "text_boolean_retrieval",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang, n_chars,
               list_distinct(string_split(lower(trim(text)), ' ')) AS dw
        FROM documents
    )
    SELECT doc_id, lang, n_chars
    FROM w
    WHERE list_contains(dw, 'table') AND list_contains(dw, 'join')
      AND NOT list_contains(dw, 'slow')
    """,
)
def text_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index boolean retrieval (L4; the posting-list algebra
    under every search engine, Manning/Raghavan/Schütze IR ch.1):
    build (term → doc) postings, intersect the postings of the AND
    terms ('table' ∧ 'join'), then subtract the NOT term ('slow') with
    an anti-join. The oracle evaluates the same boolean expression
    per-document, so the postings build + intersection + negation is
    value-checked against the direct definition.

    Plan notes: the term predicate lands immediately after the explode
    — only postings of the three query terms ever reach a shuffle, so
    the groupBy(doc_id) intersection moves |query-term postings| rows,
    not the corpus. For one-off queries a per-doc array_contains scan
    would be shuffle-free; the postings shape is the one that matters
    when the index is materialized once and probed repeatedly."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim("text")), " "))
        ).alias("w"),
    )
    hits = (
        words.where(F.col("w").isin("table", "join"))
        .groupBy("doc_id")
        .agg(F.count_distinct("w").alias("k"))
        .where(F.col("k") == 2)
    )
    neg = words.where(F.col("w") == "slow").select("doc_id")
    return (
        hits.join(neg, "doc_id", "left_anti")
        .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "text_readability",
    oracle="""
    WITH m AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
               len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 AS n_syllables,
               greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                 AS n_sentences
        FROM documents
        WHERE len(regexp_extract_all(lower(text), '[a-z]+')) > 0
    )
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           round(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - CAST(84.6 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
                 6) AS flesch,
           round(CAST(0.39 AS DOUBLE)
                 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + CAST(11.8 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                 - CAST(15.59 AS DOUBLE), 6) AS fk_grade
    FROM m
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: readability scoring per document — Flesch reading ease and
    Flesch-Kincaid grade level (public formulas, Kincaid et al. 1975)
    with the standard cheap syllable proxy (vowel-group count, the
    same heuristic every large-corpus quality pipeline uses). A
    curation signal alongside `text_quality` / Gopher rules.

    The synthetic corpus carries no sentence terminals, so
    n_sentences floors at 1 here; the [.!?]+ sentence splitter is
    exercised on punctuated prose in tests/test_round6b_ops.py.

    Exactness: all three inputs are integer regexp-match counts; the
    score is a fixed chain of IEEE multiply/divide/subtract on
    exactly-representable doubles — bit-identical across engines
    (literals CAST to DOUBLE on the SQL side so DuckDB does not
    compute in DECIMAL). Scale shape: map-only regexp counting in
    whole-stage codegen, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    wl = F.lower(F.col("text"))
    m = docs.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(wl, F.lit("[a-z]+"), F.lit(0))).alias(
            "n_words"
        ),
        F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))
            ),
        ).alias("n_sentences"),
        F.size(
            F.regexp_extract_all(wl, F.lit("[aeiouy]+"), F.lit(0))
        ).alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


@register(
    "text_collocations_pmi",
    oracle="""
    WITH ws AS (
        SELECT string_split(lower(trim(text)), ' ') AS w
        FROM documents
        WHERE len(string_split(lower(trim(text)), ' ')) >= 2
    ), big AS (
        SELECT w[g] AS x, w[g + 1] AS y
        FROM (
            SELECT w, unnest(generate_series(1, len(w) - 1)) AS g
            FROM ws
        ) q
    ), uni AS (
        SELECT unnest(w) AS t FROM ws
    ), uc AS (
        SELECT t, count(*) AS c FROM uni GROUP BY t
    ), bc AS (
        SELECT x, y, count(*) AS c_xy FROM big GROUP BY x, y
    ), tot AS (
        SELECT count(*) AS nb FROM big
    )
    SELECT bc.x, bc.y, bc.c_xy,
           CAST(bc.c_xy * tot.nb AS DOUBLE)
             / CAST(ux.c * uy.c AS DOUBLE) AS lift
    FROM bc, tot
    JOIN uc ux ON ux.t = bc.x
    JOIN uc uy ON uy.t = bc.y
    WHERE bc.c_xy >= 5
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: adjacent-bigram collocation mining — the PMI lift
    (c_xy * N) / (c_x * c_y) per ordered word pair with joint count
    >= 5 (Church & Hanks 1990). PMI = ln(lift), a monotone transform,
    so ranking/thresholding on the exact integer-ratio lift is
    equivalent and keeps the oracle free of libm log (whose last-ulp
    differences across engines could flip a rounded 6th decimal).

    Exactness: c_xy*N and c_x*c_y are exact integer products (< 2^53
    up to ~10^8 total tokens — past that, compute lift in DECIMAL),
    so the single IEEE division is bit-identical across engines.

    Scale shape: bigrams are a map-only transform over each document's
    token array (no self-join); unigram counts and the 1-row bigram
    total are vocabulary-bounded and broadcast into the final join —
    one hash agg on (x, y) is the only data-sized shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    ).where(F.size("w") >= 2)
    big = ws.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i - 1] AS x, w[i] AS y))"
            )
        ).alias("b")
    ).select("b.x", "b.y")
    uni = ws.select(F.explode("w").alias("t"))
    uc = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    bc = big.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    tot = big.agg(F.count(F.lit(1)).alias("nb"))
    ux = uc.select(F.col("t").alias("x"), F.col("c").alias("cx"))
    uy = uc.select(F.col("t").alias("y"), F.col("c").alias("cy"))
    return (
        bc.where(F.col("c_xy") >= 5)
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "c_xy",
            (
                (F.col("c_xy") * F.col("nb")).cast("double")
                / (F.col("cx") * F.col("cy")).cast("double")
            ).alias("lift"),
        )
    )


@register(
    "multimodal_decode_gif",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               16 + doc_id % 16 AS w,
               12 + doc_id % 8  AS h,
               CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 1 END AS nf
        FROM documents
    ), sums AS (
        SELECT doc_id, w, h, nf,
               h * ((w * (w - 1)) // 2) + 2 * w * ((h * (h - 1)) // 2)
                 AS base
        FROM dims
    )
    SELECT doc_id,
           'gif' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           128 AS n_colors,
           CAST(nf AS INT) AS n_frames,
           CAST(CASE WHEN nf = 3 THEN 60 ELSE 0 END AS BIGINT)
             AS sum_delays_cs,
           CAST(CASE WHEN nf = 3 THEN 3 * base + 3 * w * h
                     ELSE base END AS BIGINT) AS idx_sum,
           CAST(4 * 8128 + 40 * 128 AS BIGINT) AS pal_sum
    FROM sums
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5, fourth REAL compressed codec: per-doc GIFs — 128-color
    palette, every 5th doc a 3-frame GIF89a animation with Graphic
    Control delays — ENCODED executor-side (GIF-flavor LZW: variable
    3..12-bit codes, LSB-first packing, CLEAR/EOI, 255-byte
    sub-blocks) and DECODED back by
    :mod:`metricproxy_spark.operators.gif`. Frame k's indices are the
    linear ramp x + 2y + k (max 69 < 128, never wrapping) and the
    palette is j -> (j, 2j, j+40) (no wrap at 128 colors), so frame
    index sums, palette checksum, frame count and summed delays are
    all closed-form integers the oracle re-derives — the whole LZW
    bit path is value-checked with no tolerance. GIF is lossless for
    paletted images, so unlike JPEG no special flat-block regime is
    needed. Both halves run in Arrow batches via mapInPandas — the
    map-only decode stage of a multimodal curation pipeline.

    Driver-evidence note: pinned at the head of the round-7
    _PRIORITY window.
    """
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.gif import decode_gif, encode_gif

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )
    palette = np.stack(
        [
            np.arange(128, dtype=np.uint8),
            (2 * np.arange(128)).astype(np.uint8),
            (np.arange(128) + 40).astype(np.uint8),
        ],
        axis=1,
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 16 + i % 16, 12 + i % 8
                x = np.arange(w, dtype=np.int32)[None, :]
                y = np.arange(h, dtype=np.int32)[:, None]
                base = (x + 2 * y).astype(np.uint8)
                if i % 5 == 0:
                    blob = encode_gif(
                        [base + k for k in range(3)],
                        palette,
                        delays_cs=[10, 20, 30],
                    )
                else:
                    blob = encode_gif(base, palette)
                meta, frames, pal = decode_gif(blob)
                out.append(
                    (
                        i,
                        meta["format"],
                        meta["width"],
                        meta["height"],
                        meta["n_colors"],
                        meta["n_frames"],
                        int(sum(meta["delays_cs"])),
                        int(sum(f.sum(dtype=np.int64) for f in frames)),
                        int(pal.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_colors",
                    "n_frames",
                    "sum_delays_cs",
                    "idx_sum",
                    "pal_sum",
                ],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, fmt string, width int, height int, n_colors int,"
        " n_frames int, sum_delays_cs long, idx_sum long, pal_sum long",
    )


@register(
    "pipeline_web_curation_end2end",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, lang, source, text,
               'https://WWW.Site' || CAST(doc_id % 7 AS VARCHAR)
               || '.COM/' || lang || '/' || source || '/'
               || CAST(doc_id AS VARCHAR)
               || '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
               || '&utm_campaign=x'
               || CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents
        UNION ALL
        SELECT doc_id, lang, source, text,
               'https://CDN.Mirror.NET/' || lang || '/' || source || '/'
               || CAST(doc_id AS VARCHAR) || '/?utm_medium=mirror'
        FROM documents WHERE doc_id % 4 = 0
    ), ok AS (
        SELECT * FROM base WHERE doc_id % 17 <> 0
    ), page AS (
        SELECT url,
               '<html><head><title>' || lang || ' '
               || CAST(doc_id AS VARCHAR) || '</title><script>var t='
               || CAST(doc_id AS VARCHAR)
               || ';</script><style>a{x:y}</style></head>'
               || '<body><nav>home</nav><p>' || text
               || '</p><!-- end --></body></html>' AS html
        FROM ok
    ), canon AS (
        SELECT
            regexp_replace(regexp_replace(regexp_replace(
                lower(regexp_extract(url, '^https?://[^/]+'))
                || regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(url, '^https?://[^/]+', ''),
                       '#.*', ''), '\?', '?&'),
                   '&utm_[^&]*', '', 'g'),
                '\?&', '?'), '\?$', ''), '/$', '') AS canon_url,
            lower(trim(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(html,
                '<script>.*?</script>', '', 'g'),
                '<style>.*?</style>', '', 'g'),
                '<!--.*?-->', '', 'g'),
                '<[^>]+>', ' ', 'g'),
                ' +', ' ', 'g'))) AS key
        FROM page
    ), uniq AS (
        SELECT key, count(*) AS n_copies,
               min(canon_url) AS rep_url,
               min(regexp_extract(canon_url,
                   '^https?://[^/]+/([^/]+)/', 1)) AS lang
        FROM canon GROUP BY key
    ), q AS (
        SELECT *,
               len(string_split(key, ' ')) AS nw,
               length(replace(key, ' ', '')) AS nns,
               length(key) AS nc
        FROM uniq
    ), kept AS (
        SELECT * FROM q
        WHERE nw BETWEEN 15 AND 90
          AND 10 * nns BETWEEN 40 * nw AND 52 * nw
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_pages,
           CAST(sum(nc) AS BIGINT) AS sum_chars
    FROM kept GROUP BY lang
    """,
)
def pipeline_web_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete web-corpus front door in ONE plan (r6 VERDICT task
    3) — every stage is a query that already has its own exact oracle,
    composed end to end the way a Common-Crawl-class pretraining build
    actually runs: WARC archive (warcwire connector, gzip members) →
    HTTP-status filter → URL canonicalization (lowercase host, drop
    fragment, strip utm_* tracking) → HTML text extraction (strip
    script/style/comments, flatten tags) → exact dedup on extracted
    text (crawl mirrors collapse; every doc_id % 4 == 0 page is
    archived twice under a CDN mirror host) → absolute quality gate
    (Gopher-style word-count and mean-word-length bands, evaluated
    with INTEGER cross-multiplication so the band edges are exact in
    both engines) → per-language manifest.

    The staged WARC is the pipeline's only input; the oracle re-derives
    every stage from ``documents`` with the IDENTICAL regexp chains, so
    the whole composition — archive framing round-trip included — is
    value-checked as one unit.

    Scale shape: the WARC read partitions per file (gzip members are
    not splittable; crawls ship ~64k files per snapshot), everything
    through the quality gate is map-only whole-stage codegen, and the
    plan's ONLY wide operators are the two content-keyed hash aggs
    (dedup key, language manifest) — asserted by the plan-discipline
    test. No stage materializes to the driver."""
    import os
    import shutil

    from metricproxy_spark.io import ensure_package_on_workers, staged_artifact_dir
    from metricproxy_spark.sources.warc import register_warcwire

    ensure_package_on_workers(spark)
    register_warcwire(spark)
    out_dir = staged_artifact_dir("warc_html", sf_dir)
    if not os.path.isdir(out_dir):
        staging = out_dir + f".staging.{os.getpid()}"
        docs = load_table(spark, sf_dir, "documents")
        messy_url = F.concat(
            F.lit("https://WWW.Site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM/"),
            F.col("lang"),
            F.lit("/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("&utm_campaign=x"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        )
        mirror_url = F.concat(
            F.lit("https://CDN.Mirror.NET/"),
            F.col("lang"),
            F.lit("/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_medium=mirror"),
        )
        html = F.concat(
            F.lit("<html><head><title>"),
            F.col("lang"),
            F.lit(" "),
            F.col("doc_id").cast("string"),
            F.lit("</title><script>var t="),
            F.col("doc_id").cast("string"),
            F.lit(";</script><style>a{x:y}</style></head>"),
            F.lit("<body><nav>home</nav><p>"),
            F.col("text"),
            F.lit("</p><!-- end --></body></html>"),
        )
        common = [
            F.date_format(
                F.timestamp_micros(F.col("doc_id") * 41 * 1_000_000),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("warc_date"),
            F.when(F.col("doc_id") % 17 == 0, F.lit(404))
            .otherwise(F.lit(200))
            .cast("long")
            .alias("status"),
            F.lit("text/html; charset=utf-8").alias("content_type"),
            html.alias("payload"),
        ]
        originals = docs.select(messy_url.alias("url"), *common)
        mirrors = docs.where(F.col("doc_id") % 4 == 0).select(
            mirror_url.alias("url"), *common
        )
        pages = originals.unionAll(mirrors)
        n_parts = min(16, max(2, spark.sparkContext.defaultParallelism))
        (
            pages.repartition(n_parts)
            .write.format("warcwire")
            .mode("overwrite")
            .save(staging)
        )
        try:
            os.rename(staging, out_dir)
        except OSError:  # lost the publish race; winner is identical
            shutil.rmtree(staging, ignore_errors=True)
    recs = (
        spark.read.format("warcwire")
        .option("path", out_dir)
        .load()
        .where(
            (F.col("rec_type") == "response") & (F.col("http_status") == 200)
        )
    )
    host = F.lower(F.regexp_extract("url", r"^https?://[^/]+", 0))
    rest = F.regexp_replace("url", r"^https?://[^/]+", "")
    rest = F.regexp_replace(rest, r"#.*", "")
    rest = F.regexp_replace(rest, r"\?", "?&")
    rest = F.regexp_replace(rest, r"&utm_[^&]*", "")
    canon = F.concat(host, rest)
    canon = F.regexp_replace(canon, r"\?&", "?")
    canon = F.regexp_replace(canon, r"\?$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    extracted = F.col("payload")
    for pat, rep in _HTML_STRIP_STEPS:
        extracted = F.regexp_replace(extracted, pat, rep)
    key = F.lower(F.trim(extracted))
    uniq = (
        recs.select(canon.alias("canon_url"), key.alias("key"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("canon_url").alias("rep_url"),
            F.min(
                F.regexp_extract("canon_url", r"^https?://[^/]+/([^/]+)/", 1)
            ).alias("lang"),
        )
    )
    q = uniq.select(
        "*",
        F.size(F.split("key", " ")).alias("nw"),
        F.length(F.replace(F.col("key"), F.lit(" "), F.lit(""))).alias("nns"),
        F.length("key").alias("nc"),
    )
    kept = q.where(
        F.col("nw").between(15, 90)
        & (10 * F.col("nns")).between(40 * F.col("nw"), 52 * F.col("nw"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_copies").cast("bigint").alias("n_pages"),
        F.sum("nc").cast("bigint").alias("sum_chars"),
    )


@register(
    "multimodal_decode_g711",
    oracle="""
    WITH codes AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS codec,
               unnest(generate_series(0, 63 + 16 * CAST(doc_id % 4 AS INT))) AS j
        FROM documents
    ), dec AS (
        SELECT doc_id, codec,
               CAST((7 * doc_id + 13 * j) % 256 AS BIGINT) AS c
        FROM codes
    ), v AS (
        -- closed-form G.711 DECODE per ITU-T G.711: mu-law (after the
        -- spec's ones-complement) mag = (mant*8+132)*2^exp - 132;
        -- A-law (after the 0x55 toggle) seg0 mag = mant*16+8, else
        -- (mant*16+264)*2^(exp-1); A-law sign bit SET = positive.
        SELECT doc_id, codec,
               CASE WHEN codec = 'mulaw' THEN
                 CASE WHEN (255 - c) >= 128
                      THEN -(((255 - c) % 16) * 8 + 132)
                           * (1 << (((255 - c) % 128) // 16)) + 132
                      ELSE (((255 - c) % 16) * 8 + 132)
                           * (1 << (((255 - c) % 128) // 16)) - 132 END
               ELSE
                 CASE WHEN xor(c, 85) >= 128 THEN
                   CASE WHEN (xor(c, 85) % 128) // 16 = 0
                        THEN (xor(c, 85) % 16) * 16 + 8
                        ELSE ((xor(c, 85) % 16) * 16 + 264)
                             * (1 << ((xor(c, 85) % 128) // 16 - 1)) END
                 ELSE
                   -(CASE WHEN (xor(c, 85) % 128) // 16 = 0
                          THEN (xor(c, 85) % 16) * 16 + 8
                          ELSE ((xor(c, 85) % 16) * 16 + 264)
                               * (1 << ((xor(c, 85) % 128) // 16 - 1)) END)
                 END
               END AS pcm
        FROM dec
    )
    SELECT doc_id, codec, CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(pcm) AS BIGINT) AS sum_pcm,
           CAST(MAX(ABS(pcm)) AS INT) AS peak
    FROM v GROUP BY doc_id, codec
    """,
)
def multimodal_decode_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 telephony audio: G.711 mu-law/A-law WAV decode
    (`operators/g711.py`, WAVE_FORMAT_MULAW=7 / ALAW=6 containers) —
    the layout call-center / speech corpora ship in. Per doc a code
    stream (7*doc_id + 13*j) % 256 is expanded to linear PCM, run
    through the FULL chain encode_wav(codec) -> RIFF parse ->
    G.711 expand, and summed. Exactness lever: G.711 is IDEMPOTENT
    (decode(encode(decode(c))) == decode(c), pytest-exhaustive over
    all 256 codes), so starting from decoded code values makes the
    whole lossy chain bit-exact, and the oracle reduces decode to its
    integer closed form in SQL. Map-only Arrow batches at any scale;
    the decoded sums are pure integers (no float discipline needed).
    """
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.g711 import alaw_decode, mulaw_decode
    from metricproxy_spark.operators.multimodal import decode_wav, encode_wav

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def work(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                codec = "mulaw" if i % 2 == 0 else "alaw"
                n = 64 + 16 * (i % 4)
                codes = ((7 * i + 13 * np.arange(n)) % 256).astype(np.uint8)
                sig = (mulaw_decode if codec == "mulaw" else alaw_decode)(codes)
                _meta, s = decode_wav(encode_wav(sig, sample_rate=8000, codec=codec))
                s64 = s.astype(np.int64)
                out.append((i, codec, len(s), int(s64.sum()), int(np.abs(s64).max())))
            yield pd.DataFrame(
                out, columns=["doc_id", "codec", "n_samples", "sum_pcm", "peak"]
            )

    return docs.mapInPandas(
        work, "doc_id long, codec string, n_samples int, sum_pcm long, peak int"
    )


@register(
    "multimodal_decode_flac",
    oracle="""
    WITH sig AS (
        SELECT doc_id,
               1 + doc_id % 3 AS a,
               (doc_id % 50) - 25 AS b,
               unnest(generate_series(0, 511 + 128 * CAST(doc_id % 3 AS INT))) AS j
        FROM documents
    ), v AS (
        SELECT doc_id,
               CAST(a * j + b + (j * doc_id) % 7 - 3 AS BIGINT) AS x,
               j
        FROM sig
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(x) AS BIGINT) AS sum_pcm,
           CAST(SUM(j * x) AS BIGINT) AS weighted_sum
    FROM v GROUP BY doc_id
    """,
)
def multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 lossless audio: FLAC encode -> decode roundtrip
    (`operators/flac.py`, the fifth REAL codec — RFC 9639 frame sync,
    CRC-8/CRC-16 verified, fixed predictors + Rice residuals). Per doc
    a ramp-plus-wiggle int16 signal (a*j + b + (j*doc_id)%7 - 3; the
    wiggle keeps the Rice coder honest — a pure ramp has all-zero
    order-2 residuals) runs the full chain and is summed. FLAC is
    LOSSLESS, so the oracle is simply the closed form of the input
    signal — no special exactness regime needed; the position-weighted
    sum pins sample ORDER, not just the multiset. Map-only Arrow
    batches; integer outputs."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.flac import decode_flac, encode_flac

    # the codec work (not the id scan) is the cost: spread the Arrow
    # batches across the cluster — a single source file must not serialize
    # 5k encode+decode chains through one task
    n_parts = min(32, max(2, spark.sparkContext.defaultParallelism))
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id").repartition(n_parts)
    )

    def work(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 512 + 128 * (i % 3)
                j = np.arange(n, dtype=np.int64)
                a, b = 1 + i % 3, (i % 50) - 25
                sig = (a * j + b + (j * i) % 7 - 3).astype(np.int16)
                _meta, s = decode_flac(encode_flac(sig, sample_rate=8000))
                s64 = s.astype(np.int64)
                out.append((i, len(s), int(s64.sum()), int((j * s64).sum())))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_samples", "sum_pcm", "weighted_sum"]
            )

    return docs.mapInPandas(
        work, "doc_id long, n_samples int, sum_pcm long, weighted_sum long"
    )


@register(
    "multimodal_decode_flac_lpc",
    oracle="""
    WITH sig AS (
        SELECT doc_id,
               CASE CAST(doc_id % 5 AS INT)
                    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2
                    WHEN 3 THEN 4 ELSE 8 END AS lpc_order,
               1 + doc_id % 3 AS a,
               (doc_id % 50) - 25 AS b,
               unnest(generate_series(0, 511 + 128 * CAST(doc_id % 3 AS INT))) AS j
        FROM documents
    ), v AS (
        SELECT doc_id, lpc_order,
               CAST(a * j + b + (j * doc_id) % 7 - 3 AS BIGINT) AS x,
               j
        FROM sig
    )
    SELECT doc_id,
           CAST(lpc_order AS INT) AS lpc_order,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(x) AS BIGINT) AS sum_pcm,
           CAST(SUM(j * x) AS BIGINT) AS weighted_sum
    FROM v GROUP BY doc_id, lpc_order
    """,
)
def multimodal_decode_flac_lpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 lossless audio, LPC flavor (round 8): the same FLAC chain as
    `multimodal_decode_flac` but every stream is encoded with LPC
    subframes (RFC 9639 §9.2.5 — quantized-coefficient linear
    prediction, the subframe type real encoders emit at default
    compression) across a palette of orders 1/2/4/8 with non-trivial
    qlp shifts, exercising the full precision/shift/coefficient decode
    arithmetic. FLAC stays LOSSLESS under ANY predictor — the residual
    stores exactly what the predictor misses — so the oracle is still
    just the closed form of the input signal; the position-weighted sum
    pins sample order. Map-only Arrow batches; integer outputs."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.flac import decode_flac, encode_flac_lpc

    palette = [
        ((1,), 0),
        ((2, -1), 0),
        ((58, -27), 5),
        ((104, -61, 22, -5), 6),
        ((31, -12, 7, -3, 1, 2, -1, 1), 5),
    ]
    n_parts = min(32, max(2, spark.sparkContext.defaultParallelism))
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id").repartition(n_parts)
    )

    def work(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                coefs, shift = palette[i % 5]
                n = 512 + 128 * (i % 3)
                j = np.arange(n, dtype=np.int64)
                a, b = 1 + i % 3, (i % 50) - 25
                sig = (a * j + b + (j * i) % 7 - 3).astype(np.int16)
                _meta, s = decode_flac(
                    encode_flac_lpc(sig, coefs, shift, sample_rate=8000)
                )
                s64 = s.astype(np.int64)
                out.append(
                    (i, len(coefs), len(s), int(s64.sum()), int((j * s64).sum()))
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "lpc_order", "n_samples", "sum_pcm", "weighted_sum",
                ],
            )

    return docs.mapInPandas(
        work,
        "doc_id long, lpc_order int, n_samples int, sum_pcm long, weighted_sum long",
    )


@register(
    "multimodal_edge_detect",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               16 + CAST(doc_id % 3 AS INT) * 8 AS h,
               20 + CAST(doc_id % 4 AS INT) * 8 AS w,
               2 + doc_id % 5 AS a,
               3 + doc_id % 7 AS b,
               500 + (doc_id % 10) * 50 AS s
        FROM documents
    )
    SELECT doc_id, w, h,
           -- linear image ax+by+c has constant Sobel response
           -- (Gx,Gy) = (8a,8b) on the (h-2)(w-2) interior; the
           -- planted step of height s at column x0 adds 4s to Gx on
           -- exactly two interior columns (the Sobel x-kernel's
           -- column sums are -4,0,+4)
           CAST((h - 2) * ((w - 4) * (64*a*a + 64*b*b)
                + 2 * ((8*a + 4*s) * (8*a + 4*s) + 64*b*b)) AS BIGINT)
             AS sum_sq_grad
    FROM dims
    """,
)
def multimodal_edge_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 image feature extraction: Sobel edge response over REAL
    16-bit PNG decode. Per doc a linear-intensity image (a*x + b*y + c,
    16-bit so no uint8 wraparound fakes edges) with one planted
    vertical step edge round-trips the PNG codec, then a vectorized
    3x3 Sobel convolution (pure numpy slicing — the mapInPandas batch
    IS the vector unit) produces the squared-gradient-magnitude sum
    over the valid interior. All integer arithmetic, and both the
    constant-gradient plane AND the step response have closed forms,
    so the oracle value-checks the convolution itself — an off-by-one
    in any kernel tap cannot reproduce the sum. Map-only at any
    scale."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import decode_png, encode_png

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def work(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                h, w = 16 + (i % 3) * 8, 20 + (i % 4) * 8
                a, b, c = 2 + i % 5, 3 + i % 7, i % 100
                s, x0 = 500 + (i % 10) * 50, 4 + i % (w - 8)
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                px = (a * x + b * y + c + s * (x >= x0)).astype(np.uint16)
                _meta, p = decode_png(encode_png(px))
                p = p.astype(np.int64)
                gx = (p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:]) - (
                    p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2]
                )
                gy = (p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:]) - (
                    p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:]
                )
                out.append((i, w, h, int((gx * gx + gy * gy).sum())))
            yield pd.DataFrame(out, columns=["doc_id", "w", "h", "sum_sq_grad"])

    return docs.mapInPandas(
        work, "doc_id long, w int, h int, sum_sq_grad long"
    )


@register(
    "text_language_id",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, lower(text) AS txt FROM documents
    ), g0 AS (
        SELECT doc_id, lang, txt,
               unnest(generate_series(1, CAST(length(txt) AS INT) - 2)) AS j
        FROM base
    ), grams AS (
        SELECT doc_id, lang, substring(txt, j, 3) AS gram FROM g0
    ), model AS (
        SELECT lang, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
    ), tot AS (
        SELECT lang, SUM(c) AS t FROM model GROUP BY 1
    ), wt AS (
        SELECT m.lang, m.gram, CAST(m.c * 1000000 // t.t AS BIGINT) AS r
        FROM model m JOIN tot t ON m.lang = t.lang
    ), docg AS (
        SELECT doc_id, gram, COUNT(*) AS n FROM grams GROUP BY 1, 2
    ), scores AS (
        SELECT d.doc_id, w.lang AS cand,
               CAST(SUM(d.n * w.r) AS BIGINT) AS score
        FROM docg d JOIN wt w ON d.gram = w.gram
        GROUP BY 1, 2
    ), ranked AS (
        SELECT doc_id, cand, score,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, cand ASC
               ) AS rk
        FROM scores
    )
    SELECT r.doc_id, b.lang AS lang_given, r.cand AS lang_pred,
           r.score AS top_score
    FROM ranked r JOIN base b USING (doc_id)
    WHERE rk = 1
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 in-pipeline language identification (round 8): train
    char-trigram per-million frequency profiles over `documents` in
    one pass, then score and argmax every document against them —
    `operators/langid.py`, the Cavnar-Trenkle frequency-profile family
    kept FULLY INTEGER (per-million weights via integer division,
    integer score sums, lang-ascending tie-break) so train + score +
    argmax is hash-exact against the same arithmetic in SQL. NOTE the
    testdata `lang` labels are statistically independent of the text
    (all labels draw from one vocabulary — measured in round 8), so
    accuracy vs `lang_given` sits near the class prior by
    construction; the discriminative-capability proof lives in
    tests/test_langid.py on a corpus with real per-language character
    signal. Scale: map-side trigram explode, two hash aggs for the
    model (bounded by |charset|^3 x L -> broadcast), one broadcast
    join + hash agg + 5-row argmax window per doc."""
    from metricproxy_spark.operators.langid import langid_end_to_end

    # single parquet file = one scan split: spread before the
    # CPU-heavy trigram explode (same lever as the codec queries)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark,
    )
    pred = langid_end_to_end(docs, "doc_id", "text", "lang")
    return pred.join(docs.select("doc_id", F.col("lang").alias("lang_given")), "doc_id").select(
        "doc_id", "lang_given", "lang_pred", "top_score"
    )


@register(
    "pipeline_multimodal_curation_end2end",
    oracle="""
    WITH png AS (
        SELECT doc_id AS d,
               CASE WHEN doc_id % 11 = 0 THEN 8
                    ELSE 16 + 8 * CAST((doc_id // 4) % 3 AS INT) END AS h,
               CASE WHEN doc_id % 11 = 0 THEN 8
                    ELSE 24 + 8 * CAST((doc_id // 4) % 4 AS INT) END AS w,
               2 + doc_id % 5 AS a, 3 + doc_id % 7 AS b, doc_id % 997 AS c,
               CASE WHEN doc_id % 11 = 0 THEN 0
                    ELSE 500 + (doc_id % 10) * 50 END AS s
        FROM documents WHERE doc_id % 4 = 0 AND doc_id % 13 <> 0
    ), png_g AS (
        SELECT 'image' AS modality, 'png' AS codec,
               CASE WHEN d % 5 = 0 THEN 2 ELSE 1 END AS copies,
               w AS dim1, h AS dim2,
               h * (a * (w * (w - 1) // 2)) + w * (b * (h * (h - 1) // 2))
                 + h * w * c
                 + CASE WHEN s = 0 THEN 0
                        ELSE s * h * (w - (4 + d % (w - 8))) END AS content,
               (h - 2) * ((w - 4) * (64*a*a + 64*b*b)
                          + 2 * ((8*a + 4*s)*(8*a + 4*s) + 64*b*b)) AS feature
        FROM png
    ), jpg AS (
        SELECT doc_id AS d,
               CASE WHEN doc_id % 11 = 0 THEN 1
                    ELSE 2 + CAST(doc_id % 5 AS INT) END AS wb,
               CASE WHEN doc_id % 11 = 0 THEN 1
                    ELSE 2 + CAST(doc_id % 3 AS INT) END AS hb,
               doc_id % 241 AS c
        FROM documents WHERE doc_id % 4 = 2 AND doc_id % 13 <> 0
    ), jpg_g AS (
        SELECT 'image' AS modality, 'jpeg' AS codec,
               CASE WHEN d % 5 = 0 THEN 2 ELSE 1 END AS copies,
               8 * wb AS dim1, 8 * hb AS dim2,
               64 * (hb * (wb * (wb - 1) // 2)
                     + 2 * wb * (hb * (hb - 1) // 2) + wb * hb * c) AS content,
               32 * (8*hb - 2) * (wb - 1) + 128 * (8*wb - 2) * (hb - 1) AS feature
        FROM jpg
    ), flac0 AS (
        SELECT doc_id AS d,
               CASE WHEN doc_id % 11 = 0 THEN 32
                    ELSE 512 + 128 * CAST(doc_id % 3 AS INT) END AS n,
               1 + doc_id % 3 AS a, (doc_id % 499) - 249 AS b
        FROM documents WHERE doc_id % 4 = 1 AND doc_id % 13 <> 0
    ), flacj AS (
        SELECT d, n, a, b,
               unnest(generate_series(0, CAST(n - 1 AS INT))) AS j
        FROM flac0
    ), flacv AS (
        SELECT d, n, j, CAST(a*j + b + (j*d) % 7 - 3 AS BIGINT) AS x FROM flacj
    ), flac_g AS (
        SELECT 'audio' AS modality, 'flac' AS codec,
               CASE WHEN d % 5 = 0 THEN 2 ELSE 1 END AS copies,
               n AS dim1, 0 AS dim2,
               SUM(x) AS content, SUM(j * x) AS feature
        FROM flacv GROUP BY d, n
    ), g0 AS (
        SELECT doc_id AS d,
               CASE WHEN doc_id % 11 = 0 THEN 32
                    ELSE 64 + 8 * CAST((doc_id // 4) % 63 AS INT) END AS n,
               CASE WHEN (doc_id // 4) % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS gc
        FROM documents WHERE doc_id % 4 = 3 AND doc_id % 13 <> 0
    ), gj AS (
        SELECT d, n, gc,
               unnest(generate_series(0, CAST(n - 1 AS INT))) AS j
        FROM g0
    ), gd AS (
        SELECT d, n, gc, j, CAST((7*d + 13*j) % 256 AS BIGINT) AS cde FROM gj
    ), gv AS (
        -- closed-form G.711 decode, same derivation as the
        -- multimodal_decode_g711 oracle (ITU-T G.711 tables)
        SELECT d, n, j,
               CASE WHEN gc = 'mulaw' THEN
                 CASE WHEN (255 - cde) >= 128
                      THEN -(((255 - cde) % 16) * 8 + 132)
                           * (1 << (((255 - cde) % 128) // 16)) + 132
                      ELSE (((255 - cde) % 16) * 8 + 132)
                           * (1 << (((255 - cde) % 128) // 16)) - 132 END
               ELSE
                 CASE WHEN xor(cde, 85) >= 128 THEN
                   CASE WHEN (xor(cde, 85) % 128) // 16 = 0
                        THEN (xor(cde, 85) % 16) * 16 + 8
                        ELSE ((xor(cde, 85) % 16) * 16 + 264)
                             * (1 << ((xor(cde, 85) % 128) // 16 - 1)) END
                 ELSE
                   -(CASE WHEN (xor(cde, 85) % 128) // 16 = 0
                          THEN (xor(cde, 85) % 16) * 16 + 8
                          ELSE ((xor(cde, 85) % 16) * 16 + 264)
                               * (1 << ((xor(cde, 85) % 128) // 16 - 1)) END)
                 END
               END AS pcm
        FROM gd
    ), g_g AS (
        SELECT 'audio' AS modality, 'g711' AS codec,
               CASE WHEN d % 5 = 0 THEN 2 ELSE 1 END AS copies,
               n AS dim1, 0 AS dim2,
               SUM(pcm) AS content, SUM(j * pcm) AS feature
        FROM gv GROUP BY d, n
    ), kept AS (
        SELECT * FROM png_g UNION ALL SELECT * FROM jpg_g
        UNION ALL SELECT * FROM flac_g UNION ALL SELECT * FROM g_g
    ), gated AS (
        SELECT * FROM kept
        WHERE (modality = 'image' AND dim1 * dim2 >= 200)
           OR (modality = 'audio' AND dim1 >= 64)
    ), m1 AS (
        SELECT modality, codec,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(copies) AS BIGINT) AS n_assets,
               CAST(SUM(dim1) AS BIGINT) AS sum_dim1,
               CAST(SUM(content) AS BIGINT) AS sum_content,
               CAST(SUM(feature) AS BIGINT) AS sum_feature
        FROM gated GROUP BY 1, 2
    ), drops AS (
        SELECT modality, codec, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM (
            SELECT CASE WHEN doc_id % 4 IN (0, 2) THEN 'image'
                        ELSE 'audio' END AS modality,
                   CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png'
                        WHEN 1 THEN 'flac' WHEN 2 THEN 'jpeg'
                        ELSE 'g711' END AS codec
            FROM documents WHERE doc_id % 13 = 0
            UNION ALL
            SELECT CASE WHEN doc_id % 4 IN (0, 2) THEN 'image'
                        ELSE 'audio' END,
                   CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png'
                        WHEN 1 THEN 'flac_lpc' WHEN 2 THEN 'png'
                        ELSE 'flac' END
            FROM documents WHERE doc_id % 13 = 0 AND doc_id % 5 = 0
        ) GROUP BY 1, 2
    )
    SELECT COALESCE(m.modality, dr.modality) AS modality,
           COALESCE(m.codec, dr.codec) AS codec,
           COALESCE(m.n_groups, 0) AS n_groups,
           COALESCE(m.n_assets, 0) AS n_assets,
           COALESCE(dr.n_dropped, 0) AS n_dropped,
           COALESCE(m.sum_dim1, 0) AS sum_dim1,
           COALESCE(m.sum_content, 0) AS sum_content,
           COALESCE(m.sum_feature, 0) AS sum_feature
    FROM m1 m FULL OUTER JOIN drops dr
      ON m.modality = dr.modality AND m.codec = dr.codec
    """,
)
def pipeline_multimodal_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio/image twin of `pipeline_web_curation_end2end` (r7
    VERDICT task 2): a staged mixed-media corpus — 16-bit PNG ramps,
    piecewise-flat JPEGs, fixed-predictor FLAC, G.711 mu/A-law WAV —
    flows through ONE plan: tolerant decode with count-and-drop
    (doc_id % 13 assets are byte-truncated; every codec raises a clean
    ValueError and the asset lands in n_dropped under its own codec)
    → per-modality features (Sobel gradient energy for images,
    position-weighted sample sum for audio — both closed-form exact)
    → decoded-content fingerprint collapse (doc_id % 5 docs ship a
    MIRROR asset with identical decoded content in different bytes:
    identical-byte PNG re-crawls, PNG re-encodes of JPEG pixels, LPC
    re-encodes of fixed-predictor FLAC, FLAC wraps of G.711 PCM — the
    cross-container dedup a real multimodal crawl needs; the
    perceptual dHash flavor lives in `dedup_image_dhash`) → quality
    gates in integer space (min pixel count 200, min 64 samples;
    doc_id % 11 plants tiny/short assets that gate out) → per
    (modality, codec-of-representative) manifest.

    Exactness levers reused: lossless PNG/FLAC, the piecewise-flat +
    unit-quant JPEG regime, G.711 idempotence — so every manifest cell
    is an integer the oracle re-derives in closed form (the blocky
    JPEG Sobel energy closes to 32(h-2)(wb-1) + 128(w-2)(hb-1)).

    Scale shape: staged parquet partitions the binary assets; decode +
    feature + fingerprint are ONE map-only Arrow stage; the plan's
    only wide operators are the two content-keyed hash aggs
    (fingerprint collapse, manifest) — plan-asserted. The oracle's
    per-doc group accounting assumes the synthetic parameter tuple
    does not repeat across docs, which holds through sf>=1 (first
    repeat at 16.8k docs); the engine's md5-content collapse itself is
    scale-correct regardless. No driver materialization."""
    import hashlib
    import os
    import shutil

    import numpy as np
    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, staged_artifact_dir

    ensure_package_on_workers(spark)
    out_dir = staged_artifact_dir("media_corpus", sf_dir)
    if not os.path.isdir(out_dir):
        staging = out_dir + f".staging.{os.getpid()}"
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        n_parts = min(32, max(2, spark.sparkContext.defaultParallelism))

        def synth(batches):
            from metricproxy_spark.operators.flac import (
                encode_flac,
                encode_flac_lpc,
            )
            from metricproxy_spark.operators.g711 import alaw_decode, mulaw_decode
            from metricproxy_spark.operators.jpeg import encode_jpeg
            from metricproxy_spark.operators.multimodal import encode_png, encode_wav

            lpc_palette = [
                ((1,), 0),
                ((2, -1), 0),
                ((58, -27), 5),
                ((104, -61, 22, -5), 6),
                ((31, -12, 7, -3, 1, 2, -1, 1), 5),
            ]
            for pdf in batches:
                rows = []
                for d in pdf["doc_id"]:
                    d = int(d)
                    fam, tiny = d % 4, d % 11 == 0
                    assets = []
                    if fam == 0:
                        h = 8 if tiny else 16 + 8 * ((d // 4) % 3)
                        w = 8 if tiny else 24 + 8 * ((d // 4) % 4)
                        a, b, c = 2 + d % 5, 3 + d % 7, d % 997
                        s = 0 if tiny else 500 + (d % 10) * 50
                        x0 = 4 if tiny else 4 + d % (w - 8)
                        x = np.arange(w)[None, :]
                        y = np.arange(h)[:, None]
                        px = (a * x + b * y + c + s * (x >= x0)).astype(np.uint16)
                        blob = encode_png(px)
                        assets.append(("png", "image", blob))
                        if d % 5 == 0:  # identical-byte re-crawl
                            assets.append(("png", "image", blob))
                    elif fam == 2:
                        wb = 1 if tiny else 2 + d % 5
                        hb = 1 if tiny else 2 + d % 3
                        c = d % 241
                        px = np.zeros((8 * hb, 8 * wb), np.uint8)
                        for by in range(hb):
                            for bx in range(wb):
                                px[8*by:8*by+8, 8*bx:8*bx+8] = bx + 2 * by + c
                        assets.append(("jpeg", "image", encode_jpeg(px)))
                        if d % 5 == 0:  # same pixels, PNG container
                            assets.append(("png", "image", encode_png(px)))
                    elif fam == 1:
                        n = 32 if tiny else 512 + 128 * (d % 3)
                        j = np.arange(n, dtype=np.int64)
                        a, b = 1 + d % 3, (d % 499) - 249
                        sig = (a * j + b + (j * d) % 7 - 3).astype(np.int16)
                        assets.append(("flac", "audio", encode_flac(sig)))
                        if d % 5 == 0:  # same samples, LPC subframes
                            coefs, shift = lpc_palette[(d // 5) % 5]
                            assets.append(
                                ("flac_lpc", "audio", encode_flac_lpc(sig, coefs, shift))
                            )
                    else:
                        n = 32 if tiny else 64 + 8 * ((d // 4) % 63)
                        codes = ((7 * d + 13 * np.arange(n)) % 256).astype(np.uint8)
                        gc = "mulaw" if (d // 4) % 2 == 0 else "alaw"
                        sig = (mulaw_decode if gc == "mulaw" else alaw_decode)(codes)
                        assets.append(
                            ("g711", "audio", encode_wav(sig, sample_rate=8000, codec=gc))
                        )
                        if d % 5 == 0:  # same samples, lossless wrap
                            assets.append(
                                ("flac", "audio", encode_flac(np.asarray(sig, np.int16)))
                            )
                    for k, (codec, modality, blob) in enumerate(assets):
                        if d % 13 == 0:
                            blob = blob[: len(blob) // 3]
                        rows.append((2 * d + k, d, modality, codec, bytes(blob)))
                yield pd.DataFrame(
                    rows,
                    columns=["asset_id", "doc_id", "modality", "codec", "content"],
                )

        (
            docs.repartition(n_parts)
            .mapInPandas(
                synth,
                "asset_id long, doc_id long, modality string, codec string,"
                " content binary",
            )
            .write.mode("overwrite")
            .parquet(staging)
        )
        try:
            os.rename(staging, out_dir)
        except OSError:  # lost the publish race; winner is identical
            shutil.rmtree(staging, ignore_errors=True)

    assets = read_parquet_cached(spark, out_dir)

    def decode(batches):
        from metricproxy_spark.operators.flac import decode_flac
        from metricproxy_spark.operators.jpeg import decode_jpeg
        from metricproxy_spark.operators.multimodal import decode_png, decode_wav

        for pdf in batches:
            rows = []
            for aid, modality, codec, blob in zip(
                pdf["asset_id"], pdf["modality"], pdf["codec"], pdf["content"]
            ):
                aid, blob = int(aid), bytes(blob)
                try:
                    if codec == "png":
                        _m, arr = decode_png(blob)
                    elif codec == "jpeg":
                        _m, arr = decode_jpeg(blob)
                    elif codec in ("flac", "flac_lpc"):
                        _m, arr = decode_flac(blob)
                    else:
                        _m, arr = decode_wav(blob)
                except (ValueError, NotImplementedError):
                    rows.append(
                        (f"fail:{aid}", aid, modality, codec, 0, 0, 0, 0, 0)
                    )
                    continue
                if modality == "image":
                    p = np.asarray(arr, np.int64)
                    h, w = p.shape
                    gx = (p[:-2, 2:] + 2*p[1:-1, 2:] + p[2:, 2:]) - (
                        p[:-2, :-2] + 2*p[1:-1, :-2] + p[2:, :-2]
                    )
                    gy = (p[2:, :-2] + 2*p[2:, 1:-1] + p[2:, 2:]) - (
                        p[:-2, :-2] + 2*p[:-2, 1:-1] + p[:-2, 2:]
                    )
                    feat = int((gx * gx + gy * gy).sum())
                    fp = hashlib.md5(
                        b"img%d,%d;" % (w, h) + p.tobytes()
                    ).hexdigest()
                    rows.append(
                        (fp, aid, modality, codec, 1, w, h, int(p.sum()), feat)
                    )
                else:
                    sarr = np.asarray(arr, np.int64).reshape(-1)
                    n = len(sarr)
                    jj = np.arange(n, dtype=np.int64)
                    fp = hashlib.md5(b"aud%d;" % n + sarr.tobytes()).hexdigest()
                    rows.append(
                        (
                            fp, aid, modality, codec, 1, n, 0,
                            int(sarr.sum()), int((jj * sarr).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "fingerprint", "asset_id", "modality", "codec", "okk",
                    "dim1", "dim2", "content_sum", "feature",
                ],
            )

    feats = assets.mapInPandas(
        decode,
        "fingerprint string, asset_id long, modality string, codec string,"
        " okk int, dim1 long, dim2 long, content_sum long, feature long",
    )
    groups = feats.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("copies"),
        F.min_by("codec", "asset_id").alias("codec"),
        F.min("modality").alias("modality"),
        F.min("okk").alias("okk"),
        F.min("dim1").alias("dim1"),
        F.min("dim2").alias("dim2"),
        F.min("content_sum").alias("content_sum"),
        F.min("feature").alias("feature"),
    )
    survivors = groups.where(
        (F.col("okk") == 0)
        | ((F.col("modality") == "image") & (F.col("dim1") * F.col("dim2") >= 200))
        | ((F.col("modality") == "audio") & (F.col("dim1") >= 64))
    )
    return survivors.groupBy("modality", "codec").agg(
        F.sum("okk").cast("bigint").alias("n_groups"),
        F.sum(F.col("okk") * F.col("copies")).cast("bigint").alias("n_assets"),
        F.sum((1 - F.col("okk")) * F.col("copies")).cast("bigint").alias("n_dropped"),
        F.sum(F.col("okk") * F.col("dim1")).cast("bigint").alias("sum_dim1"),
        F.sum(F.col("okk") * F.col("content_sum")).cast("bigint").alias("sum_content"),
        F.sum(F.col("okk") * F.col("feature")).cast("bigint").alias("sum_feature"),
    )


@register(
    "pipeline_proportional_allocation",
    oracle="""
    WITH strata AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    ), tot AS (
        SELECT SUM(n_docs) AS big_n FROM strata
    ), quota AS (
        SELECT s.source, s.lang, s.n_docs,
               (1000 * s.n_docs) // t.big_n AS base,
               (1000 * s.n_docs) % t.big_n AS rem,
               t.big_n AS big_n
        FROM strata s CROSS JOIN tot t
    ), ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, source, lang) AS rk,
               CAST(1000 - SUM(base) OVER () AS BIGINT) AS leftover
        FROM quota
    )
    SELECT source, lang, n_docs,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
    """,
)
def pipeline_proportional_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture apportionment — largest-remainder (Hare quota)
    allocation of a 1000-sample budget across (source, lang) strata,
    the deterministic integer core of training-data mixing: every
    stratum gets floor(T·n_i/N), and the K = T − Σfloor leftover
    samples go to the largest fractional remainders. Remainders
    compare as INTEGER residues (T·n_i mod N) — no floats anywhere —
    and ties break (source, lang)-ascending, so the allocation is
    exact and engine-identical, and Σalloc == T by construction
    (apportionment's defining invariant; pinned in tests). Scale: one
    hash agg over the corpus, then window ranking over |strata| rows —
    the corpus is touched once, the allocation logic runs on
    stratum-count-sized data."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = strata.agg(F.sum("n_docs").alias("big_n"))
    quota = strata.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        F.expr("(1000 * n_docs) div big_n").alias("base"),
        F.expr("(1000 * n_docs) % big_n").alias("rem"),
    )
    w = Window.orderBy(F.desc("rem"), "source", "lang")
    wall = Window.partitionBy()
    ranked = quota.select(
        "*",
        F.row_number().over(w).alias("rk"),
        (1000 - F.sum("base").over(wall)).cast("bigint").alias("leftover"),
    )
    return ranked.select(
        "source",
        "lang",
        "n_docs",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


@register(
    "pipeline_training_shard_manifest",
    oracle="""
    WITH strata AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    ), tot AS (
        SELECT SUM(n_docs) AS big_n FROM strata
    ), quota AS (
        SELECT s.source, s.lang, s.n_docs,
               (200 * s.n_docs) // t.big_n AS base,
               (200 * s.n_docs) % t.big_n AS rem
        FROM strata s CROSS JOIN tot t
    ), alloc AS (
        SELECT source, lang,
               CAST(base + CASE WHEN
                   row_number() OVER (ORDER BY rem DESC, source, lang)
                     <= 200 - SUM(base) OVER ()
                   THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM quota
    ), keyed AS (
        SELECT doc_id, source, lang,
               md5('shard:' || CAST(doc_id AS VARCHAR)) AS h,
               md5('assign:' || CAST(doc_id AS VARCHAR)) AS ah
        FROM documents
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source, lang
                                     ORDER BY h) AS rk
        FROM keyed
    ), selected AS (
        SELECT r.doc_id, r.source, r.lang, r.h, r.ah,
               CAST(('0x' || substr(r.ah, 1, 15)) AS BIGINT) % 8 AS shard
        FROM ranked r JOIN alloc a
          ON r.source = a.source AND r.lang = a.lang
        WHERE r.rk <= a.alloc
    )
    SELECT CAST(shard AS INT) AS shard, source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           min(h) AS min_sample_hash,
           min_by(doc_id, ah) AS first_doc_id
    FROM selected GROUP BY 1, 2, 3
    """,
)
def pipeline_training_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-shard manifest — the step between mixture
    apportionment and sequence packing that a real pretraining build
    runs: (1) Hare largest-remainder allocation of a 200-doc budget
    across (source, lang) strata (the `pipeline_proportional_
    allocation` core inlined), (2) DETERMINISTIC per-stratum selection
    of exactly its allocation via bottom-k by a seeded content hash
    (md5('shard:'||doc_id) — engine/partitioning/run-reproducible,
    unlike rand()), (3) seeded HASH-BUCKETED shard assignment
    (md5('assign:'||doc_id) 60-bit prefix mod 8 — an independent seed
    so shard placement is uncorrelated with selection rank), and (4)
    the value-checked manifest: per (shard, source, lang) doc counts,
    key sums, the selection-identity min hash, and the first document
    each shard would stream under the deterministic hash-order
    interleave (min_by over the assign hash). Σ n_docs = 200 = the
    budget whenever every stratum holds at least its allocation
    (guaranteed for budget <= corpus size); undersized strata cap at
    their full contents (pinned in tests). Scale: one corpus scan
    feeds both the strata agg and the keyed frame; selection is a
    per-stratum window rank (shuffle keyed by stratum, never global);
    the allocation table is |strata| rows broadcast into the rank
    filter; shard assignment is a pure map — NO global sort anywhere
    (plan-asserted), so shards stay balanced-by-hash at any corpus
    size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = strata.agg(F.sum("n_docs").alias("big_n"))
    quota = strata.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        F.expr("(200 * n_docs) div big_n").alias("base"),
        F.expr("(200 * n_docs) % big_n").alias("rem"),
    )
    wrk = Window.orderBy(F.desc("rem"), "source", "lang")
    wall = Window.partitionBy()
    alloc = quota.select(
        "source",
        "lang",
        (
            F.col("base")
            + F.when(
                F.row_number().over(wrk)
                <= 200 - F.sum("base").over(wall),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )
    keyed = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
        F.md5(
            F.concat(F.lit("assign:"), F.col("doc_id").cast("string"))
        ).alias("ah"),
    )
    ranked = keyed.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source", "lang").orderBy("h")
        ),
    )
    selected = ranked.join(F.broadcast(alloc), ["source", "lang"]).where(
        F.col("rk") <= F.col("alloc")
    )
    shard = (
        F.expr("CAST(conv(substring(ah, 1, 15), 16, 10) AS BIGINT) % 8")
        .cast("int")
        .alias("shard")
    )
    return (
        selected.select("doc_id", "source", "lang", "h", "ah", shard)
        .groupBy("shard", "source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.min("h").alias("min_sample_hash"),
            F.min_by("doc_id", "ah").alias("first_doc_id"),
        )
    )


@register(
    "multimodal_decode_png_subbyte",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
                    ELSE 16 END AS m,
               5 + doc_id % 17 AS w,
               3 + doc_id % 9  AS h,
               doc_id % 31     AS c
        FROM documents
    ), xs AS (
        SELECT doc_id, m, w, h, c,
               unnest(generate_series(0, CAST(w - 1 AS INT))) AS x
        FROM dims
    ), pxs AS (
        SELECT doc_id, m, w, h, c, x,
               unnest(generate_series(0, CAST(h - 1 AS INT))) AS y
        FROM xs
    ), sums AS (
        SELECT doc_id, w, h,
               SUM((x + 2 * y + c) % m) AS s
        FROM pxs GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           'png' AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN w * h
                     ELSE 3 * w * h END AS BIGINT) AS n_samples,
           CAST(CASE WHEN doc_id % 2 = 0 THEN s
                     ELSE 15 * s + 6 * w * h END AS BIGINT) AS px_sum
    FROM sums
    """,
)
def multimodal_decode_png_subbyte(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L5, round-9: SUB-BYTE PNG depths (1/2/4-bit — the codec's last
    honest raise, now implemented): per-doc images at depth cycling
    1/2/4 bits, written gray (even ids) or PALETTE (odd ids, entries
    (3p+1, 5p+2, 7p+3) so the RGB channel-sum is the linear 15p + 6),
    half Adam7-interlaced, row filters cycling all five types —
    MSB-first bit packing over byte-aligned scanlines through the
    same byte-wise filter machinery, decoded back by the stdlib-only
    decoder. Samples are (x + 2y + c) mod 2^depth, and the oracle
    re-derives the exact integer pixel sum per pixel in DuckDB
    (images are <= 21x11, so the oracle's generate_series expansion
    is tiny); a decoder that mis-unpacked bit order, row padding, or
    pass alignment CANNOT reproduce the sum. Same map-only
    mapInPandas shape as the other codec queries; at 100 TB this is
    the decode stage over scanned-document/fax-style archives where
    bilevel and 4-bit palette files dominate."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    # single-row-group local input = ONE scan partition: spread so
    # the per-row Python codec work runs cores-wide (no-op at scale)
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark
    )

    def synth_and_decode(batches):
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                depth = {0: 1, 1: 2, 2: 4}[i % 3]
                w, h, c = 5 + i % 17, 3 + i % 9, i % 31
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                px = ((x + 2 * y + c) % (1 << depth)).astype(np.uint8)
                interlace = i % 4 < 2
                if i % 2 == 0:
                    blob = encode_png(
                        px,
                        row_filters="cycle",
                        interlace=interlace,
                        depth=depth,
                    )
                else:
                    p = np.arange(1 << depth, dtype=np.int64)
                    pal = np.stack(
                        [3 * p + 1, 5 * p + 2, 7 * p + 3], axis=1
                    ).astype(np.uint8)
                    blob = encode_png(
                        px,
                        row_filters="cycle",
                        palette=pal,
                        interlace=interlace,
                        depth=depth,
                    )
                meta, back = decode_png(blob)
                out.append(
                    (
                        i,
                        meta["format"],
                        meta["width"],
                        meta["height"],
                        int(back.size),
                        int(back.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_samples",
                    "px_sum",
                ],
            )

    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, fmt string, width int, height int,"
        " n_samples long, px_sum long",
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "text_pii_scrub_corpus",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' Contact u' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                    || ' ssn 123-45-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
                 AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII_SSN}')) AS BIGINT)
             AS n_ssn,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
             AS n_phone,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT)
             AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_SSN}', '<SSN>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_pii_scrub_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PII scrub over documents — the richer sibling of
    `text_pii_redact` (SSN/IPv4 word-boundary patterns, md5
    redaction check): the pass every training-data
    pipeline runs before a corpus ships: emails, SSN-shaped ids,
    phone numbers and IPv4 addresses detected and replaced with typed
    placeholders. Testdata text carries no PII, so each document is
    AUGMENTED with deterministic doc_id-derived PII (one email, one
    phone, one SSN, two IPs) in BOTH engines — counts are non-trivial
    and the md5 of the fully-redacted text value-checks that every
    replacement span and placeholder is byte-identical. The four
    patterns live in the Java-regex ∩ RE2 dialect intersection
    (classes, \\d, \\b, bounded quantifiers — probed identical this
    round; Spark replaces globally by default, DuckDB needs the 'g'
    flag). Scale: pure map — narrow projection, no shuffle at all;
    regex scans are the canonical CPU-bound curation stage and
    parallelize per split."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("t"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
                _PII_SSN,
                "<SSN>",
            ),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(_PII_EMAIL)).cast("bigint").alias("n_email"),
        F.regexp_count("t", F.lit(_PII_SSN)).cast("bigint").alias("n_ssn"),
        F.regexp_count("t", F.lit(_PII_PHONE)).cast("bigint").alias("n_phone"),
        F.regexp_count("t", F.lit(_PII_IP)).cast("bigint").alias("n_ip"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


@register(
    "text_unicode_nfc",
    oracle="""
    WITH synth AS (
        SELECT doc_id,
               'u' || CAST(doc_id AS VARCHAR) || ' caf'
                 || CASE doc_id % 4 WHEN 0 THEN 'a' || chr(776)
                                    WHEN 1 THEN 'e' || chr(769)
                                    WHEN 2 THEN 'o' || chr(771)
                                    ELSE 'c' || chr(807) END
                 || ' fia' || chr(110) || chr(771) || 'ce'
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' ' || chr(233) ELSE '' END
                 AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT) AS n_chars_before,
           CAST(length(nfc_normalize(s)) AS BIGINT) AS n_chars_after,
           (s <> nfc_normalize(s)) AS changed,
           nfc_normalize(s) AS nfc
    FROM synth
    """,
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization pass a corpus
    needs before dedup/tokenization (the same text arrives composed
    from one crawler and decomposed from another; without NFC they
    hash apart). Each doc gets a deterministic string holding REAL
    decomposed sequences (base letter + combining diaeresis/acute/
    tilde/cedilla, plus an already-composed é every 5th doc), and the
    value check pits TWO INDEPENDENT NFC implementations against each
    other: Python's unicodedata (Arrow-batched mapInPandas) versus
    DuckDB's utf8proc-backed nfc_normalize — agreement on the
    normalized strings, codepoint counts and changed flags means the
    canonical composition is implemented per UAX #15, not merely
    consistently. (Spark's own char() is ASCII-mod-256, so the
    combining marks enter the engine side as Python literals; the
    oracle builds the identical bytes with chr().) Scale: pure map —
    construct + normalize per row, no shuffle anywhere."""
    import unicodedata

    import pandas as pd

    # NO spread(): per-row NFC on a short literal is cheap — the
    # exchange costs more than the single-core pass (measured net loss).
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    combos = {0: "a\u0308", 1: "e\u0301", 2: "o\u0303", 3: "c\u0327"}

    def synth_and_normalize(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                s = (
                    f"u{i} caf{combos[i % 4]}"
                    + " fian\u0303ce"
                    + (" \u00e9" if i % 5 == 0 else "")
                )
                nfc = unicodedata.normalize("NFC", s)
                rows.append((i, len(s), len(nfc), s != nfc, nfc))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_chars_before",
                    "n_chars_after",
                    "changed",
                    "nfc",
                ],
            )

    return docs.mapInPandas(
        synth_and_normalize,
        "doc_id long, n_chars_before long, n_chars_after long,"
        " changed boolean, nfc string",
    )


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH base AS (
        SELECT doc_id, source, lang,
               lower(trim(text)) AS norm,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ), dupes AS (
        SELECT source, norm, COUNT(*) AS c
        FROM base GROUP BY 1, 2
    ), dupstats AS (
        SELECT source,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS n_dup_docs,
               CAST(COUNT(*) AS BIGINT) AS n_unique_texts
        FROM dupes GROUP BY 1
    ), agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_words) AS BIGINT) AS n_words,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(MAX(n_words) AS BIGINT) AS max_doc_words,
               CAST(MIN(n_words) AS BIGINT) AS min_doc_words
        FROM base GROUP BY 1
    )
    SELECT a.source, a.n_docs, a.n_langs, a.n_words, a.n_chars,
           a.max_doc_words, a.min_doc_words,
           d.n_unique_texts, d.n_dup_docs,
           CAST(a.n_words AS DOUBLE) / CAST(a.n_docs AS DOUBLE)
             AS mean_doc_words,
           CAST(a.n_chars AS DOUBLE) / CAST(a.n_words AS DOUBLE)
             AS mean_word_len
    FROM agg a JOIN dupstats d ON a.source = d.source
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the per-source manifest a corpus release ships
    (Datasheets for Datasets, Gebru et al. 2021): document/language/
    token-proxy counts, size extremes, exact-duplicate exposure
    (documents whose normalized text collides within the source —
    the number dedup would remove), and the derived density ratios a
    reviewer sanity-checks before training. Every statistic is an
    integer count or ONE division of exact integer operands, so the
    whole card value-checks. This is the composition endpoint of the
    curation family: the numbers `pipeline_training_data` /
    `dedup_exact` / `text_language_id` act on, summarized per source.
    Scale: one corpus scan feeding two hash aggs (per-source, and
    per-(source, normalized-text) for the dup exposure) + a
    |sources|-row join — nothing above stratum size leaves the
    scan."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        F.lower(F.trim("text")).alias("norm"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    dupes = base.groupBy("source", "norm").agg(
        F.count(F.lit(1)).alias("c")
    )
    dupstats = dupes.groupBy("source").agg(
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_texts"),
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.max("n_words").cast("bigint").alias("max_doc_words"),
        F.min("n_words").cast("bigint").alias("min_doc_words"),
    )
    return agg.join(dupstats, "source").select(
        "source",
        "n_docs",
        "n_langs",
        "n_words",
        "n_chars",
        "max_doc_words",
        "min_doc_words",
        "n_unique_texts",
        "n_dup_docs",
        (F.col("n_words").cast("double") / F.col("n_docs").cast("double"))
        .alias("mean_doc_words"),
        (F.col("n_chars").cast("double") / F.col("n_words").cast("double"))
        .alias("mean_word_len"),
    )


@register(
    "text_eval_contamination",
    oracle="""
    WITH wds AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), kg AS (
        SELECT doc_id,
            list_transform(range(1, len(w) - 3),
              i -> ((((CAST(ascii(w[i]) * 1024 + length(w[i]) AS BIGINT) * 131
                     + CAST(ascii(w[i+1]) * 1024 + length(w[i+1]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+2]) * 1024 + length(w[i+2]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+3]) * 1024 + length(w[i+3]) AS BIGINT)) * 131
                     + CAST(ascii(w[i+4]) * 1024 + length(w[i+4]) AS BIGINT))
                   % 1000000000000037
            ) AS kg
        FROM wds
    ), occ AS (
        SELECT DISTINCT doc_id, unnest(kg) AS fp FROM kg
    ), ev AS (
        SELECT DISTINCT fp, doc_id AS eval_doc FROM occ
        WHERE doc_id % 10 = 0
    ), tr AS (
        SELECT doc_id, fp FROM occ WHERE doc_id % 10 <> 0
    ), tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM tr GROUP BY 1
    ), hits AS (
        SELECT t.doc_id,
               CAST(count(DISTINCT t.fp) AS BIGINT) AS n_contaminated,
               CAST(count(DISTINCT e.eval_doc) AS BIGINT) AS n_eval_docs
        FROM tr t JOIN ev e ON e.fp = t.fp
        GROUP BY 1
    )
    SELECT h.doc_id, tot.n_grams, h.n_contaminated, h.n_eval_docs,
           round(CAST(h.n_contaminated AS DOUBLE)
                 / CAST(tot.n_grams AS DOUBLE), 9) AS contaminated_frac
    FROM hits h JOIN tot ON tot.doc_id = h.doc_id
    """,
)
def text_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 TRAIN/EVAL CONTAMINATION detection — the release-gate check
    every LLM training pipeline runs before shipping a dataset: find
    training documents that share word-5-gram spans with the held-out
    evaluation split (the n-gram-overlap decontamination method of
    GPT-3 appendix C / PaLM / Llama: an eval example is "dirty" if any
    its n-grams appear in training data — here inverted to flag the
    TRAINING docs to drop, which is the actionable side). The split is
    deterministic (doc_id % 10 = 0 ⇒ eval — in production a real
    benchmark table sits on the eval side; the operator shape is
    identical). Output: every contaminated train doc with its distinct
    5-gram count, how many of those grams are contaminated, and how
    many distinct eval docs it collides with. Scale shape: k-gram
    fingerprints explode once (int64 hashes only, no text), the eval
    side reduces to DISTINCT (fp, eval_doc) — in practice benchmark
    corpora are tiny so this side is broadcast-small; the train-side
    join is fp-key-hashed with partial-combine aggs, no all-pairs, no
    driver state. Same fingerprint machinery as
    `text_common_span_frac` (the Catalyst array-HOF
    :func:`~metricproxy_spark.operators.text.kgram_hashes`)."""
    from metricproxy_spark.operators.text import kgram_hashes

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    # the fingerprint stream feeds three consumers (eval side, train
    # totals, train-hit join): one eager ids+int64 checkpoint runs the
    # kgram pass once instead of three times.
    occ = (
        docs.select("doc_id", F.explode(kgram_hashes("text", 5)).alias("fp"))
        .distinct()
        .localCheckpoint()
    )
    is_eval = F.col("doc_id") % 10 == 0
    ev = (
        occ.where(is_eval)
        .select("fp", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    tr = occ.where(~is_eval)
    tot = tr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    hits = (
        tr.join(ev, "fp")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("fp").cast("bigint").alias("n_contaminated"),
            F.count_distinct("eval_doc").cast("bigint").alias("n_eval_docs"),
        )
    )
    return hits.join(tot, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        "n_eval_docs",
        F.round(
            F.col("n_contaminated").cast("double")
            / F.col("n_grams").cast("double"),
            9,
        ).alias("contaminated_frac"),
    )
