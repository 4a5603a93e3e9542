"""Input invariant validation (SURVEY.md §1.5 B3): duplicate
(conv_id, turn_idx) keys fail loudly or are quarantined — never silently
encoded (the reference only logs a warning, parseVariant.go:16-18)."""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os

import pandas as pd
import pytest

import jobs.encode as encode_job
from vcf2df_spark import fixtures


def _run(argv):
    try:
        encode_job.main(argv)
        return 0
    except SystemExit as e:
        return int(e.code or 0)


@pytest.fixture()
def dup_input(tmp_path):
    src = fixtures.transcripts_tiny()
    dup = pd.concat([src, src.iloc[[1, 3]]], ignore_index=True)  # 2 dup keys
    p = tmp_path / "dup.parquet"
    fixtures.write_parquet(dup, str(p))
    return str(p), len(src)


def test_duplicates_fail_by_default(spark, dup_input, tmp_path):
    path, _ = dup_input
    rc = _run(["--input", path, "--out", str(tmp_path / "w1"),
               "--partitions", "2", "--master", "local[2]"])
    assert rc == 5


def _tree(root):
    """{relative path: sha256} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_duplicate_contract(spark, tmp_path):
    """Duplicate keys abort the blocks write: exit 5 with the exact count,
    every live blocks and manifests file untouched, no staging left."""
    wh = str(tmp_path / "wh")
    small = fixtures.transcripts_small()
    clean = str(tmp_path / "clean.parquet")
    fixtures.write_parquet(small, clean)
    common = ["--out", wh, "--partitions", "4", "--master", "local[4]"]
    assert _run(["--input", clean, "--job-id", "a", *common]) == 0
    live = {sub: _tree(f"{wh}/{sub}") for sub in ("blocks", "manifests")}

    dup = str(tmp_path / "dup.parquet")
    fixtures.write_parquet(
        pd.concat([small, small.iloc[[1, 3, 500]]], ignore_index=True), dup
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = _run(["--input", dup, "--job-id", "b", *common])
    assert rc == 5
    out = json.loads([x for x in buf.getvalue().splitlines()
                      if x.startswith("{")][-1])
    assert out == {"job_id": "b", "status": "invalid-input",
                   "duplicate_rows": 3}
    assert {sub: _tree(f"{wh}/{sub}") for sub in live} == live
    assert not [d for d, _, _ in os.walk(wh) if ".spark-staging" in d]


def test_duplicates_quarantine(spark, dup_input, tmp_path):
    path, n_unique = dup_input
    wh = str(tmp_path / "w2")
    rc = _run(["--input", path, "--out", wh, "--partitions", "2",
               "--master", "local[2]", "--on-duplicates", "quarantine"])
    assert rc == 0
    q = spark.read.parquet(f"{wh}/quarantine")
    assert q.count() == 2
    from vcf2df_spark.decode import decode_blocks

    decoded = decode_blocks(spark.read.parquet(f"{wh}/blocks"))
    assert decoded.count() == n_unique
    assert decoded.select("conv_id", "turn_idx").distinct().count() == n_unique


def test_on_duplicates_has_no_ignore(tmp_path):
    """There is no mode that encodes duplicate keys: ``ignore`` committed
    them, and every later append that merged their partition then failed
    as a re-insert. argparse refuses it before any Spark work."""
    with contextlib.redirect_stderr(io.StringIO()):
        rc = _run(["--input", "unused.parquet", "--out", str(tmp_path / "w"),
                   "--on-duplicates", "ignore"])
    assert rc == 2


def test_quarantine_refuses_reinserted_keys(spark, dup_input, tmp_path):
    """Quarantine keeps one copy of each key within the input; a key the
    warehouse already holds still fails the encode (exit 5)."""
    path, _ = dup_input
    wh = str(tmp_path / "w3")
    common = ["--out", wh, "--partitions", "2", "--master", "local[2]",
              "--on-duplicates", "quarantine"]
    assert _run(["--input", path, "--job-id", "a", *common]) == 0
    assert _run(["--input", path, "--job-id", "b", *common]) == 5


def test_null_strings_normalize_to_empty(spark):
    """Reference P7 parity: null strings become typed defaults (\"\")."""
    import pandas as pd

    from vcf2df_spark.decode import decode_blocks
    from vcf2df_spark.encode import encode_transcripts

    src = fixtures.transcripts_tiny()
    src.loc[0, "tool"] = None
    src.loc[1, "text"] = None
    df = spark.createDataFrame(src)
    decoded = decode_blocks(encode_transcripts(df, num_partitions=2)).toPandas()
    d = decoded.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert d.loc[0, "tool"] == ""
    assert d.loc[1, "text"] == ""
    assert d.notna().all().all()


def test_reserved_extra_column_names_rejected(spark):
    # '_pkey' and '__*' extras must fail at encode time, not lose data at
    # decode (decode filters '__*' marker rows; with_partition_key
    # overwrites '_pkey')
    import pytest

    from vcf2df_spark import fixtures
    from vcf2df_spark.encode import normalize_input

    src = fixtures.transcripts_tiny()
    for bad in ("_pkey", "__meta"):
        pdf = src.copy()
        pdf[bad] = 1
        with pytest.raises(ValueError, match="engine-reserved"):
            normalize_input(spark.createDataFrame(pdf))
