"""The benchmark's operations on the engine, and their verification.

Each encode op runs the public encode call and writes the encoded table to
parquet; the write carries an ``observe`` of the encoded sizes and codec,
so no extra job is needed to check them.  Each decode op runs the public
decode call and consumes it with a digest aggregate, which is also the
check: row count, token count and ``bit_xor(xxhash64(...))`` must equal
the input's.  (``sum`` of the hashes would overflow under ANSI mode.)
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F

from simdcomp_spark import codecs, engine, kernels
from simdcomp_spark.codecs.auto import choose_codec_flat

from .inputs import Input
from .tracing import Tracer

SCAN_COLS = ["doc_id", "source", "n_tok", "tokens"]


@dataclass(frozen=True)
class Digest:
    rows: int
    tokens: int
    hash: int


@dataclass
class Outcome:
    kind: str
    tokens: int
    ok: bool
    wall_s: float = 0.0
    cpu_s: float = 0.0
    layers: dict | None = None
    detail: str = ""


def digest(df: DataFrame, segments: bool) -> DataFrame:
    """One-row aggregate (rows, tokens, hash) of a decoded table."""
    key = ["doc_id", "seg_id"] if segments else ["doc_id"]
    return df.agg(F.count("*").alias("rows"),
                  F.sum(F.size("tokens")).cast("long").alias("n_tokens"),
                  F.bit_xor(F.xxhash64(*key, "tokens")).alias("hash"))


def check_input(spark, inp: Input, segments: bool) -> tuple[Digest, int]:
    """Digest the input as a decode on the given path returns it (whole
    docs, or the segments of the engine's length split), check it against
    the generator's counts, and count the segments."""
    t = engine.DEFAULT_SPLIT_THRESHOLD
    nseg = F.greatest(F.ceil(F.size("tokens") / t).cast("int"), F.lit(1))
    if segments:
        # slicing copies the array, so only rows that split take that path
        h = F.when(nseg == 1, F.xxhash64("doc_id", F.lit(0), "tokens")) \
            .otherwise(F.aggregate(
                F.sequence(F.lit(0), nseg - 1), F.lit(0).cast("long"),
                lambda acc, s: acc.bitwiseXOR(F.xxhash64(
                    F.col("doc_id"), s, F.slice("tokens", s * t + 1, t)))))
    else:
        h = F.xxhash64("doc_id", "tokens")
    r = (spark.read.parquet(inp.path)
         .agg(F.count("*").alias("rows"),
              F.sum(F.size("tokens")).cast("long").alias("n_tokens"),
              F.sum("n_tok").cast("long").alias("sum_n_tok"),
              F.sum(nseg).cast("long").alias("segs"),
              F.bit_xor(h).alias("hash"))
         .first())
    if (r["rows"], r["n_tokens"], r["sum_n_tok"]) != (inp.rows, inp.tokens,
                                                      inp.tokens):
        raise RuntimeError(f"input check failed for {inp.path}: {r}")
    rows = r["segs"] if segments else r["rows"]
    return Digest(rows, inp.tokens, r["hash"]), r["segs"]


def _identity(batches):
    yield from batches


class Ops:
    """Runs verified ops; counts attempts and failures."""

    def __init__(self, spark, tracer: Tracer, cpu_seconds):
        self.spark, self.tracer, self.cpu_seconds = spark, tracer, cpu_seconds
        self.attempted = self.failed = 0
        # engine path (fused or not) -> (encoded bytes incl. widths and
        # inits, codecs), recorded at the first encode, required after
        self.recorded: dict[bool, tuple[int, tuple[str, ...]]] = {}

    def _run(self, kind: str, tokens: int, body) -> Outcome:
        self.attempted += 1
        out = Outcome(kind, tokens, ok=False)
        cpu0 = self.cpu_seconds()
        op = self.tracer.op(kind)
        try:
            with op:
                check = body(op)
            out.cpu_s = self.cpu_seconds() - cpu0
            out.wall_s, out.layers = op.wall_s, op.layers or None
            out.detail = check()
            out.ok = not out.detail
        except Exception:
            out.detail = traceback.format_exc()
        if not out.ok:
            self.failed += 1
            print(f"perfbench: {kind} failed: {out.detail}", file=sys.stderr)
        return out

    def encode(self, inp: Input, segs: int, out_path: str,
               fused: bool) -> Outcome:
        obs = Observation()

        def body(op):
            if fused:
                with op.layer("call"):
                    df = engine.encode_files(self.spark, inp.path,
                                             codec="auto")
            else:
                with op.layer("input"):
                    src = self.spark.read.parquet(inp.path)
                with op.layer("call"):
                    df = engine.encode(src, codec="auto")
            df = df.observe(obs, F.count("*").alias("rows"),
                            F.sum("n_tok").cast("long").alias("n_tokens"),
                            F.sum(F.length("payload") + F.length("widths")
                                  + F.length("inits")).cast("long")
                            .alias("bytes"),
                            F.collect_set("codec").alias("codecs"))
            with op.layer("action"):
                df.write.mode("overwrite").parquet(out_path)
                got = obs.get
            return lambda: self._check_encoded(inp, segs, fused, got)

        return self._run("encode_files" if fused else "encode", inp.tokens,
                         body)

    def _check_encoded(self, inp: Input, segs: int, fused: bool,
                       got: dict) -> str:
        if (got["rows"], got["n_tokens"]) != (segs, inp.tokens):
            return f"encoded rows/tokens {got} != {(segs, inp.tokens)}"
        seen = (got["bytes"], tuple(sorted(got["codecs"])))
        expect = self.recorded.setdefault(fused, seen)
        if seen != expect:
            return f"encoded (bytes, codecs) {seen} != recorded {expect}"
        return ""

    def decode(self, inp: Input, want: Digest, enc_path: str,
               fused: bool) -> Outcome:
        """``want`` is the input's digest for this path (check_input)."""

        def body(op):
            if fused:
                with op.layer("call"):
                    df = engine.decode_files(self.spark, enc_path)
            else:
                with op.layer("input"):
                    src = self.spark.read.parquet(enc_path)
                with op.layer("call"):
                    df = engine.decode(src, reassemble=True)
            with op.layer("action"):
                got = Digest(*digest(df, segments=fused).first())
            return lambda: "" if got == want else f"decoded {got} != {want}"

        return self._run("decode_files" if fused else "decode", inp.tokens,
                         body)

    def control(self, inp: Input, identity: bool) -> float:
        """Wall seconds of a noop sink over the scan of the input columns,
        through an identity ``mapInArrow`` when ``identity``."""
        t0 = time.perf_counter()
        df = self.spark.read.parquet(inp.path).select(*SCAN_COLS)
        if identity:
            df = df.mapInArrow(_identity, df.schema)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def codec_layer(inp: Input, batch_rows: int, reps: int
                ) -> tuple[dict[str, float], int]:
    """Single-core timings of the codec calls over the input's own Arrow
    batches: ({metric: value}, number of failed round trips).  Each time
    is the median of ``reps`` passes, in ns per token."""
    import pyarrow.parquet as pq

    batches = []
    for f in sorted(Path(inp.path).glob("*.parquet")):
        for rb in pq.ParquetFile(f).iter_batches(batch_size=batch_rows,
                                                 columns=["tokens"]):
            col = rb.column(0)
            off = np.asarray(col.offsets).astype(np.int64)
            flat = np.asarray(col.values)[off[0]:off[-1]]
            batches.append((np.ascontiguousarray(flat).view(np.uint32),
                            np.diff(off)))
    tokens = sum(int(lens.sum()) for _, lens in batches)
    out: dict[str, float] = {}

    def timed(name, fn, args):
        passes, res = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            res = [fn(*a) for a in args]
            passes.append(time.perf_counter() - t0)
        out[name] = float(np.median(passes)) * 1e9 / tokens
        return res

    timed("codecs.auto.choose_ns_tok", choose_codec_flat, batches)
    timed("kernels.content_hash_flat.ns_tok", kernels.content_hash_flat,
          batches)
    failures = 0
    for name in ("dict", "d1"):
        codec = codecs.get(name)
        encs = timed(f"codecs.{name}.encode_ns_tok", codec.encode_flat,
                     batches)
        decs = timed(f"codecs.{name}.decode_ns_tok", codec.decode_flat,
                     [(lens, e.widths, e.widths_lens, e.inits, e.inits_lens,
                       e.payload, e.payload_lens)
                      for e, (_, lens) in zip(encs, batches)])
        failures += not all(np.array_equal(d, flat)
                            for d, (flat, _) in zip(decs, batches))
        nbytes = sum(e.payload.size + e.widths.size + e.inits.size
                     for e in encs)
        out[f"codecs.{name}.bits_per_token"] = nbytes * 8 / tokens
    return out, failures
