"""Session utilities: shuffle-partition auto-sizing (the spill-aware
knob the 200x scale harness measured — SCALE.md round-8) and its wiring
into the production pipeline entry (VERDICT r8 item 5)."""

from __future__ import annotations

from advanced_elb_logs_etl_spark.plans.pipeline import (
    autosize_for_inputs,
    estimate_input_bytes,
)
from advanced_elb_logs_etl_spark.session import autosize_shuffle_partitions


def test_autosize_scales_with_input(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cores = spark.sparkContext.defaultParallelism
        # small input: clamps to core count, never below
        n_small = autosize_shuffle_partitions(spark, 1024)
        assert n_small == cores
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)
        # 100 GB at 128 MB target -> ceil(100GiB/128MiB) = 800 partitions
        n_big = autosize_shuffle_partitions(spark, 100 * 1024**3)
        assert n_big == max(cores, 800)
        # coarser target halves the count
        n_coarse = autosize_shuffle_partitions(
            spark, 100 * 1024**3, target_partition_bytes=256 * 1024**2
        )
        assert n_coarse == max(cores, 400)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_estimate_input_bytes_sums_listing(spark, tmp_path, monkeypatch):
    (tmp_path / "a.gz").write_bytes(b"x" * 1000)
    (tmp_path / "b.gz").write_bytes(b"y" * 500)
    sub = tmp_path / "nested"
    sub.mkdir()
    (sub / "c.gz").write_bytes(b"z" * 250)
    monkeypatch.delenv("ELB_DECODE_FACTOR", raising=False)
    # explicit factor: exact sum x factor; directories recurse
    assert estimate_input_bytes(spark, [str(tmp_path)], decode_factor=1.0) == 1750
    # glob expansion
    assert (
        estimate_input_bytes(spark, [str(tmp_path / "*.gz")], decode_factor=2.0)
        == 3000
    )
    # env-tuned default factor
    monkeypatch.setenv("ELB_DECODE_FACTOR", "10")
    assert estimate_input_bytes(spark, [str(tmp_path / "a.gz")]) == 10000
    # missing path: 0, never raises
    assert estimate_input_bytes(spark, [str(tmp_path / "nope-*")] ) == 0


def test_pipeline_entry_autosizes_from_inputs(spark, tmp_path, monkeypatch):
    """The 100x-deployment contract: run_pipeline's entry sizing applies
    the 200x-wave fix without the operator reading MIGRATION.md — the
    partition count scales with the input listing, an env override
    wins, and unsizable inputs leave the session default standing."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cores = spark.sparkContext.defaultParallelism
        f = tmp_path / "big.gz"
        f.write_bytes(b"x" * (1024 * 1024))  # 1 MiB on disk
        # factor chosen so 1 MiB "decodes" past the core clamp:
        # 1 MiB x 262144 = 256 GiB -> 2048 partitions at the 128 MB target
        monkeypatch.setenv("ELB_DECODE_FACTOR", str(256 * 1024))
        monkeypatch.delenv("ELB_SHUFFLE_PARTITIONS", raising=False)
        applied = autosize_for_inputs(spark, [str(f)])
        assert applied == max(cores, 2048)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(applied)
        # explicit env override wins over the estimate
        monkeypatch.setenv("ELB_SHUFFLE_PARTITIONS", "96")
        assert autosize_for_inputs(spark, [str(f)]) == 96
        assert spark.conf.get("spark.sql.shuffle.partitions") == "96"
        # unsizable inputs: no-op, session setting stands
        monkeypatch.delenv("ELB_SHUFFLE_PARTITIONS", raising=False)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        assert autosize_for_inputs(spark, [str(tmp_path / "absent-*")]) is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_env_override_validation(spark, tmp_path, monkeypatch):
    """ELB_SHUFFLE_PARTITIONS must fail loudly on junk instead of
    setting an invalid partition count (r9 self-review)."""
    import pytest

    f = tmp_path / "x.gz"
    f.write_bytes(b"x" * 100)
    monkeypatch.setenv("ELB_SHUFFLE_PARTITIONS", "0")
    with pytest.raises(ValueError, match=">= 1"):
        autosize_for_inputs(spark, [str(f)])
    monkeypatch.setenv("ELB_SHUFFLE_PARTITIONS", "abc")
    with pytest.raises(ValueError, match="integer"):
        autosize_for_inputs(spark, [str(f)])
    monkeypatch.setenv("ELB_SHUFFLE_PARTITIONS", " 96 ")
    assert autosize_for_inputs(spark, [str(f)]) == 96

def test_autosize_never_lowers_deliberate_session_value(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: a session-level spark.sql.shuffle.partitions that
    differs from Spark's stock default (200) is a deliberate operator
    choice — the entry sizing may RAISE it but never silently lower it;
    the stock default still gets the full estimate in both directions."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cores = spark.sparkContext.defaultParallelism
        f = tmp_path / "tiny.gz"
        f.write_bytes(b"x" * 100)
        monkeypatch.delenv("ELB_SHUFFLE_PARTITIONS", raising=False)
        monkeypatch.setenv("ELB_DECODE_FACTOR", "1")
        # deliberate high setting + tiny input (estimate clamps to
        # cores): keep the operator's value, report no-op
        spark.conf.set("spark.sql.shuffle.partitions", "4096")
        assert autosize_for_inputs(spark, [str(f)]) is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4096"
        # deliberate low setting + bigger estimate: raising is still the
        # whole point of the sizing (the 200x window-sort spill fix).
        # The estimate is sized to 2 * max(cores, 4) partitions of
        # 128 MiB over the 100-byte file, so it beats both the low
        # setting and the cores clamp on any core count.
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        want = 2 * max(cores, 4)
        monkeypatch.setenv("ELB_DECODE_FACTOR", str(want * 128 * 1024 * 1024 // 100))
        applied = autosize_for_inputs(spark, [str(f)])
        assert applied == want
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(applied)
        # the untouched stock default may be lowered by the estimate
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        monkeypatch.setenv("ELB_DECODE_FACTOR", "1")
        assert autosize_for_inputs(spark, [str(f)]) == cores
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)
        # the ELB_SHUFFLE_PARTITIONS env override still beats everything
        spark.conf.set("spark.sql.shuffle.partitions", "4096")
        monkeypatch.setenv("ELB_SHUFFLE_PARTITIONS", "96")
        assert autosize_for_inputs(spark, [str(f)]) == 96
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
