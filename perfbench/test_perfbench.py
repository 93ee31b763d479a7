"""Self-tests of the benchmark: its statistics, and that its verification
catches wrong engine output.  Run from the repository root with

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import run, tracing


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    pct, value = run.tail(xs)
    assert (pct, value) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10


def test_tail_is_never_below_the_median():
    assert run.tail([3.0, 1.0, 2.0]) == (pytest.approx(200 / 3), 2.0)


def test_covered_merges_overlaps_and_clips():
    ivs = [(0, 10), (5, 20), (30, 40), (38, 45)]
    assert tracing.covered(ivs, 0, 100) == 35
    assert tracing.covered(ivs, 8, 35) == 17
    assert tracing.covered([], 0, 10) == 0


@pytest.fixture(scope="module")
def bench_env(tmp_path_factory):
    """A small local Spark session configured the way the benchmark runs
    it, plus one written input with its reference digests."""
    pytest.importorskip("pyspark")
    base = tmp_path_factory.mktemp("perfbench")
    saved = dict(os.environ)
    run.hermetic_env(base, base / "native")
    from simdcomp_spark import engine
    from perfbench import inputs, ops
    spark = engine.get_spark(app="perfbench-test", cores=2,
                             shuffle_partitions=2)
    try:
        cdf = inputs._zipf_cdf()
        d = base / "data"
        inp = inputs.Input(str(d), *inputs._write(
            [(f"{d}/part-00000.parquet",
              lambda: inputs.zipf_docs(7, 4090, 64, cdf))], 1 << 20, 1))
        yield spark, inp, base
    finally:
        spark.stop()
        os.environ.clear()
        os.environ.update(saved)


def _ops(spark):
    from perfbench import ops, proctree
    return ops.Ops(spark, tracing.Tracer(spark, enabled=True),
                   proctree.cpu_seconds)


def test_round_trip_passes_and_is_traced(bench_env):
    from perfbench import ops
    spark, inp, base = bench_env
    docs, segs = ops.check_input(spark, inp, segments=False)
    pieces, _ = ops.check_input(spark, inp, segments=True)
    # doc 4096 is 80000 tokens, so it is stored as two segments
    assert segs == docs.rows + 1 == pieces.rows
    o = _ops(spark)
    for fused, want in ((False, docs), (True, pieces)):
        enc = o.encode(inp, segs, str(base / f"enc{fused}"), fused)
        dec = o.decode(inp, want, str(base / f"enc{fused}"), fused)
        assert enc.ok and dec.ok, (enc.detail, dec.detail)
        assert dec.layers["jobs"] >= 1 and dec.layers["stages"] >= 1
    assert (o.attempted, o.failed) == (4, 0)


def test_corrupted_decode_is_caught(bench_env, monkeypatch):
    from pyspark.sql import functions as F
    from perfbench import ops
    spark, inp, base = bench_env
    docs, segs = ops.check_input(spark, inp, segments=False)
    o = _ops(spark)
    assert o.encode(inp, segs, str(base / "enc"), fused=False).ok
    real = ops.engine.decode

    def off_by_one(df, reassemble=True):
        out = real(df, reassemble=reassemble)
        return out.withColumn("tokens", F.when(
            F.col("doc_id") == "doc_0000004100",
            F.transform("tokens", lambda t: t + 1)).otherwise(F.col("tokens")))

    monkeypatch.setattr(ops.engine, "decode", off_by_one)
    dec = o.decode(inp, docs, str(base / "enc"), fused=False)
    assert not dec.ok and "decoded" in dec.detail
    assert (o.attempted, o.failed) == (2, 1)


def test_changed_encoded_size_is_caught(bench_env):
    from perfbench import ops
    spark, inp, base = bench_env
    _, segs = ops.check_input(spark, inp, segments=True)
    o = _ops(spark)
    o.recorded[True] = (1, ("d1",))
    enc = o.encode(inp, segs, str(base / "enc_files"), fused=True)
    assert not enc.ok and "recorded" in enc.detail
    assert o.failed == 1
