"""Multimodal (binary media) query builders over the Arrow byte-parse CTE."""

from __future__ import annotations

from .spans import q_spans_spark

# ---------------------------------------------------------------------------
# Multimodal (binary media) operators — see operators/multimodal.py.  The
# Spark side parses real BYTES in Arrow kernels; the oracle parses the
# equivalent md5-hex closed form.
# ---------------------------------------------------------------------------

def _media_df(spark, sf_dir):
    from ..operators.multimodal import media_table
    return media_table(q_spans_spark(spark, sf_dir))


def q_media_meta_spark(spark, sf_dir):
    from ..operators.multimodal import decode_media_meta
    return decode_media_meta(_media_df(spark, sf_dir))


def q_media_resize_spark(spark, sf_dir):
    from ..operators.multimodal import decode_media_meta, resize_plan
    return resize_plan(decode_media_meta(_media_df(spark, sf_dir)))


def q_media_frames_spark(spark, sf_dir):
    from ..operators.multimodal import frame_sample
    return frame_sample(_media_df(spark, sf_dir), stride=2)


def q_media_features_spark(spark, sf_dir):
    from ..operators.multimodal import media_features
    return media_features(_media_df(spark, sf_dir))


# DuckDB closed form of the synthetic payload: hp = 128 hex chars;
# u16 at byte offset b == CAST('0x' || substr(hp, 2*b+1, 4) AS BIGINT)
_MEDIA_CTE = """toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> length(x) > 0) AS t
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(range(0, GREATEST((CAST(len(t) AS BIGINT) - 1) // 8, 0) + 1)) AS i
  FROM toks
), refs AS (
  SELECT DISTINCT 'blob://img/' || CAST(doc_id AS VARCHAR) || '_'
         || CAST(i AS VARCHAR) AS media_ref
  FROM chunks WHERE i % 3 = 2
), media AS (
  SELECT media_ref,
         md5(media_ref) || md5(media_ref || '1') || md5(media_ref || '2')
           || md5(media_ref || '3') AS hp,
         CASE (CAST('0x' || substr(md5(media_ref), 1, 2) AS BIGINT) % 3) + 1
           WHEN 1 THEN 'image' WHEN 2 THEN 'audio' ELSE 'video' END AS kind
  FROM refs
), meta AS (
  SELECT media_ref, kind, 64 AS n_bytes,
    CASE WHEN kind IN ('image','video')
         THEN CAST('0x' || substr(hp, 1, 4) AS BIGINT) % 1024 + 16
         ELSE 0 END AS width,
    CASE WHEN kind IN ('image','video')
         THEN CAST('0x' || substr(hp, 5, 4) AS BIGINT) % 1024 + 16
         ELSE 0 END AS height,
    CASE WHEN kind = 'video'
         THEN CAST('0x' || substr(hp, 9, 2) AS BIGINT) % 4 + 1
         ELSE 0 END AS n_frames,
    CASE WHEN kind = 'audio'
         THEN CAST('0x' || substr(hp, 11, 4) AS BIGINT) % 32000 + 8000
         ELSE 0 END AS sample_rate
  FROM media
)"""

_MEDIA_META_SQL = f"""
WITH {_MEDIA_CTE}
SELECT media_ref, kind, n_bytes, width, height, n_frames, sample_rate
FROM meta
"""

_MEDIA_RESIZE_SQL = f"""
WITH {_MEDIA_CTE}
SELECT media_ref, kind, width, height, 224 AS out_w, 224 AS out_h,
       CAST(224000 // width AS BIGINT) AS scale_x_permille,
       CAST(224000 // height AS BIGINT) AS scale_y_permille
FROM meta WHERE width > 0
"""

_MEDIA_FRAMES_SQL = f"""
WITH {_MEDIA_CTE}
SELECT media_ref, j AS frame_idx, substr(hp, 32 * j + 1, 32) AS frame_hex
FROM media CROSS JOIN (SELECT unnest([0, 2]) AS j)
WHERE kind = 'video'
"""

_MEDIA_FEATURES_SQL = f"""
WITH {_MEDIA_CTE}
SELECT media_ref, j,
       CAST('0x' || substr(hp, 4 * j + 1, 4) AS BIGINT) AS feat
FROM media CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
"""


