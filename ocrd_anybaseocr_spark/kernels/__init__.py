"""Pure numpy image/geometry kernels — the 'physical operators' of this
domain (SURVEY.md §2.8). Each is a pure function over uint8/bool arrays,
unit-testable without Spark, and shared verbatim by the distributed pipeline
(inside the page stage's mapInArrow batches) and the single-process oracle."""
