"""Unit golden tests for the codec auto-selector (SURVEY.md §5.2-2).

Pure-function golden style mirrors the reference's schema-derivation test
(converter/schema_test.go:10-62): fixed inputs -> exact expected plan.
Integer columns go through ``planner.candidate_codecs``/``encode_best``;
string columns through ``arrow_ops.encode_string_column``, the one string
selector.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from vcf2df_spark import arrow_ops, planner

WORDS = np.array(["alpha", "beta", "gamma", "delta", "status", "completed",
                  "result", "tool", "call", "user"])


def _string_choice(vals) -> tuple[str, dict]:
    codec, _, _, meta, _ = arrow_ops.encode_string_column(
        pa.array(list(vals), type=pa.string())
    )
    return codec, meta


def test_choose_low_cardinality_strings_dict():
    rng = np.random.default_rng(0)
    roles = np.array(["user", "assistant", "tool", "system"])
    codec, meta = _string_choice(roles[rng.integers(0, 4, 10000)])
    assert (codec, meta["ndv"]) == ("dict", 4)


def test_choose_long_runs_rle():
    rng = np.random.default_rng(0)
    labels = np.array([f"conv-{chr(97 + i % 26)}{i}" for i in range(800)])
    runs = np.repeat(rng.integers(0, 800, 1000), rng.integers(8, 18, 1000))
    codec, meta = _string_choice(labels[runs][:10000])
    assert codec == "rle" and meta["n_runs"] < 1000


def test_choose_high_entropy_text_fsst():
    rng = np.random.default_rng(0)
    text = [" ".join(WORDS[rng.integers(0, 10, 8)]) + f" {i}" for i in range(2000)]
    assert _string_choice(text)[0] == "fsst"


def test_choose_small_ints_bitpack():
    vals = np.random.default_rng(0).integers(0, 200, 10000)
    assert planner.candidate_codecs(vals) == ["bitpack"]
    assert planner.encode_best(vals)[0] == "bitpack"


def test_choose_monotone_ts_fordelta():
    vals = np.cumsum(np.random.default_rng(0).integers(0, 10**6, 10000))
    assert planner.candidate_codecs(vals) == ["bitpack", "fordelta"]
    assert planner.encode_best(vals)[0] == "fordelta"


def test_empty_column_raw():
    assert _string_choice([])[0] == "raw"
    empty = np.array([], dtype=np.int64)
    assert planner.candidate_codecs(empty) == []
    assert planner.encode_best(empty)[0] == "raw"


def test_string_run_count_in_rle_meta():
    vals = np.repeat(
        np.array(["assistant-reply", "user-question", "assistant-reply"]), 400
    )
    codec, meta = _string_choice(vals)
    assert (codec, meta["n_runs"]) == ("rle", 3)


def test_candidate_codecs_sorted_frac():
    # 8 of 9 deltas non-negative: near-monotone, fordelta is tried
    vals = np.array([1, 2, 3, 4, 5, 4, 6, 7, 8, 9], dtype=np.int64)
    assert planner.candidate_codecs(vals) == ["bitpack", "fordelta"]
    # 4 of 9: not monotone enough
    vals = np.array([1, 0, 2, 1, 3, 2, 4, 3, 5, 4], dtype=np.int64)
    assert planner.candidate_codecs(vals) == ["bitpack"]


def test_encode_best_never_loses_to_raw():
    # adversarial: all-distinct long random strings — fsst may not win; the
    # measured fallback must cap encoded size at raw
    rng = np.random.default_rng(0)
    vals = [
        "".join(map(chr, rng.integers(0x4E00, 0x9FFF, 50))) for _ in range(200)
    ]
    codec, payload, aux, meta, raw_bytes = arrow_ops.encode_string_column(
        pa.array(vals, type=pa.string())
    )
    assert len(payload) + len(aux) <= raw_bytes
