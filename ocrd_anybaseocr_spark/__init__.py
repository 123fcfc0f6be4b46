"""ocrd_anybaseocr_spark — a PySpark-native document layout-detection and
text-extraction engine.

A from-scratch reimplementation of the capabilities of OCR-D/ocrd_anybaseocr
(reference at /root/reference, v2.0.0) as an idiomatic Spark DataFrame
pipeline: Otsu/Sauvola binarization, projection-profile deskew, page-frame
cropping, text/non-text segmentation, page classification and the
document-structure fold — all as vectorized Arrow UDFs (mapInArrow,
applyInArrow) over batched decoded page images, never per-row Python.

Design blueprint: /root/repo/SURVEY.md. This is NOT a port — the reference's
page-at-a-time imperative execution (reference:
src/ocrd_anybaseocr/cli/ocrd_anybaseocr_cropping.py:72-204) is re-expressed
as declarative DataFrame plans + one fused mapInArrow page stage so Catalyst can
prune/push down, and AQE + salted repartitioning handle skew at cluster scale.
"""

__version__ = "0.1.0"
