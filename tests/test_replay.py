"""The benchmark's stage replay (perfbench/replay.py) re-runs process_page
one kernel call at a time to time each stage; the benchmark counts a failed
check when a replayed page differs from process_page. These cases pin that
equality in tier-1, one page per branch of process_page, so a change to its
steps, or to a kernel signature the replay calls, fails here first."""

from __future__ import annotations

import pytest

from ocrd_anybaseocr_spark.oracle import process_page
from ocrd_anybaseocr_spark.png import decode_gray
from ocrd_anybaseocr_spark.synth import generate_doc
from perfbench.replay import StageClock, replay_page

SEED = 42

# (degradation strength or False, doc index, page index, dpi, escalated, deskewed)
CASES = {
    "300dpi": (False, 0, 3, 300, 0, 0),
    "150dpi_run_space_zoom": (False, 1, 0, 150, 0, 0),
    "degraded_escalates": (4.0, 3, 0, 300, 1, 0),
    "deskewed_pixel_unshear": (False, 0, 1, 300, 0, 1),
    "150dpi_escalated_run_space_unshear": (4.0, 1, 0, 150, 1, 1),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_replay_equals_process_page(case):
    degraded, doc, page, dpi, escalated, deskewed = CASES[case]
    _, blobs = generate_doc(SEED, doc, degraded=degraded)
    png = bytes(blobs[page]["image"])
    assert decode_gray(png)[1] == dpi
    got, counts = replay_page(png, StageClock())
    # the page takes the branch the case names
    assert (counts["escalated"], counts["deskewed"]) == (escalated, deskewed)
    assert got == process_page(png)
