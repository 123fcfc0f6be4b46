"""Pipeline parameter defaults.

Mirrors the JSON-schema parameter defaults of the reference's
``ocrd-tool.json`` (reference: src/ocrd_anybaseocr/ocrd-tool.json:17-132) as a
typed, frozen config. Parameters are plain constants so Catalyst can constant-
fold every expression they appear in.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CropParams:
    """Page-frame detection parameters.

    Defaults follow reference ocrd-tool.json:17-96 (cropping section):
    ruler aspect/area gates, column separator width, margin bands, padding.
    """

    dpi: int = 300                   # working resolution (ref cropping.py:129-151)
    dpi_override: int = -1           # >0 asserts the scan DPI, beating embedded
                                     # metadata (ref ocrd-tool.json 'dpi', cropping.py:129-130)
    padding: int = 4                 # inward border padding px (ref ocrd-tool.json)
    margin_top: float = 0.25         # border line search band (ref cropping.py:300-310)
    margin_bottom: float = 0.75
    margin_left: float = 0.3
    margin_right: float = 0.7
    ruler_ratio_min: float = 3.0     # ruler bbox aspect gates (ref cropping.py:237-250)
    ruler_ratio_max: float = 50.0
    ruler_area_min: float = 0.01     # fraction of page area (ref cropping.py:214-221)
    ruler_area_max: float = 0.3
    ruler_width_max: float = 0.95    # fraction of page width
    column_area_min: float = 0.05    # min column area fraction (ref cropping.py:797-799)
    column_sep_width_max: float = 0.04  # column coalescing gap (ref cropping.py:729-740)
    min_line_length: float = 0.5     # border line must span >= this fraction of the page
    textbox_fill_min: float = 0.25   # contour fill-ratio gate (ref cropping.py:706-708)
    textbox_wh_min: int = 15         # min textbox w/h px
    textbox_w_max: float = 0.9       # max textbox width fraction
    textbox_h_max: float = 0.5       # max textbox height fraction


@dataclass(frozen=True)
class BinarizeParams:
    """Binarization parameters (north_star: Otsu/Sauvola; ref cropping.py:208,669-670)."""

    method: str = "otsu"             # 'otsu' | 'sauvola'
    sauvola_window: int = 31
    sauvola_k: float = 0.34
    normalize_gray: bool = True      # percentile stretch before binarize —
                                     # emits the 'grayscale_normalized' feature
                                     # (ref feature vocabulary, cropping.py:118-120)
    norm_lo_pct: float = 5.0         # ocropus-nlbin percentile pair
    norm_hi_pct: float = 90.0
    escalate_low_separability: bool = True
                                     # Otsu-confidence gate (VERDICT r5 item 5):
                                     # when the global threshold's separability
                                     # eta = sigma_b/sigma_total falls below
                                     # min_separability, flatten illumination
                                     # (flatten_background) and re-threshold.
                                     # Clean synth pages measure eta >= 0.98,
                                     # so the clean tier never escalates and
                                     # its EXACT-recovery contract is intact.
    min_separability: float = 0.95
    close_gap: int = 1               # run-space horizontal closing: heal white
                                     # gaps <= this many px inside ink runs
                                     # (single-pixel scanner dropouts / pepper
                                     # holes). The run analogue of the
                                     # reference's small morph close before
                                     # detection. 1, not 2: at 150 dpi the
                                     # drawn frame-to-text padding can shrink
                                     # to a 2 px white gap — gap=2 welds the
                                     # frame line to every text row and the
                                     # stroke chain disintegrates.


@dataclass(frozen=True)
class DeskewParams:
    """Projection-profile deskew (dropped ref processor, CHANGELOG.md:18; public algorithm)."""

    max_skew: float = 0.02           # max |shear| as dx/dy searched
    steps: int = 9                   # odd number of candidate shears (grid includes 0)


@dataclass(frozen=True)
class ClassifyParams:
    """Page classification (ref layout_analysis.py:109-133): multi-label with
    threshold 0.5 and argmax fallback over the 21-label vocabulary."""

    threshold: float = 0.5


# 21-label vocabulary of the reference classifier
# (reference: src/ocrd_anybaseocr/models/mapping_densenet.pickle; see SURVEY.md §2.8 K10)
LABELS: tuple[str, ...] = (
    "annotation", "binding", "chapter", "colour_checker", "contained_work",
    "contents", "cover", "edge", "endsheet", "epicedia", "illustration",
    "index", "musical_notation", "page", "paste_down", "preface",
    "provenance", "section", "sermon", "table", "title_page",
)


@dataclass(frozen=True)
class PipelineParams:
    crop: CropParams = field(default_factory=CropParams)
    binarize: BinarizeParams = field(default_factory=BinarizeParams)
    deskew: DeskewParams = field(default_factory=DeskewParams)
    classify: ClassifyParams = field(default_factory=ClassifyParams)


DEFAULT_PARAMS = PipelineParams()
