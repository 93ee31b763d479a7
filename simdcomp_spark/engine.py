"""Spark DataFrame encode/decode pipelines.

Spark-first design (SURVEY.md §1.4, §4):
* the ONLY Python in the hot path is Arrow-batched ``mapInArrow`` calling the
  vectorized numpy codec core — token list-columns and packed binary columns
  move as RAW ARROW BUFFERS (one values buffer + offsets per batch), so there
  is no per-row Python and no per-row object materialization at all;
* salt-based repartitioning on ``pmod(xxhash64(doc_id, seg_id), shards)``
  spreads encode work evenly (north rule: explicit partitioning/skew
  handling);
* length-aware skew splitting: rows with huge ``n_tok`` are cut into
  independent segments with pure JVM expressions (``sequence``/``slice``)
  BEFORE the shuffle, so a single 10M-token document cannot straggle a task.
  Blocks are independent given per-block inits (SURVEY.md §3.2), so segment
  encodes are bit-compatible with whole-row encodes;
* decode reassembly shuffles the COMPRESSED segments by doc_id and
  concatenates them after the decode (``_decode_reassembled``); it is
  skipped when no doc was split.  The decoded-array ``groupBy(doc_id) →
  array_sort → flatten`` lives only in :func:`reassemble_segments`, for
  :func:`decode_files` consumers;
* metrics are plain DataFrame aggregations over the encoded output plus
  per-task encode timings carried as constant batch columns — queryable,
  not log-scraped.

Schema of the encoded table (``ENCODED_SCHEMA``), written only by
``_write_encoded`` and read only through ``_EncodedBatch``:
    doc_id, source, seg_id, n_tok, codec, widths, inits, payload, pid,
    enc_ns, content_hash
"""

from __future__ import annotations

import os
import tempfile
import time
from functools import cached_property

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import blocks, codecs
from .codecs.auto import choose_codec_flat
from .codecs.base import extract_rows
from .kernels import content_hash_flat, multi_arange

ENCODED_SCHEMA = ("doc_id string, source string, seg_id int, n_tok int, "
                  "codec string, widths binary, inits binary, payload binary, "
                  "pid int, enc_ns long, content_hash binary")
DECODED_SCHEMA = "doc_id string, source string, seg_id int, tokens array<int>"

DEFAULT_SPLIT_THRESHOLD = 1 << 16  # tokens per segment
_BLOCK_MODES = {"bitpack": "plain", "for": "for", "d1": "d1"}


def _scratch_dir() -> str:
    """Shuffle/spill scratch directory.

    tmpfs (/dev/shm) is used only when it currently has generous headroom
    (≥8 GiB free) — the engine's plans shuffle compressed bytes (or
    nothing), so scratch stays small, but a RAM-backed dir with no headroom
    would turn a big spill into ENOSPC/OOM instead of a slow-disk
    degradation.  ``SIMDCOMP_SCRATCH`` overrides the choice entirely, and
    the tmpfs path is per-uid so concurrent users never share state.  On a
    real cluster this maps to the standard NVMe/ramdisk local-dir setup."""
    env = os.environ.get("SIMDCOMP_SCRATCH")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 8 << 30:
                return os.path.join(
                    shm, f"simdcomp_spark_scratch_{os.getuid()}")
        except OSError:
            pass
    return tempfile.gettempdir()


def get_spark(app: str = "simdcomp_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    return (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048-row Arrow batches keep the per-thread token working set near
        # the L3 share at full thread count (+27-33% on the scan paths,
        # +7-10% on the fused paths vs 8192 on this host; 1024 regresses)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # keep big numpy buffers on the Python workers' sbrk heap so pages
        # stay faulted across batches/tasks (first-touch page faults cost
        # ~50ms/MB in this kernel; mmap'd buffers are returned to the OS on
        # free and re-fault every batch)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483647")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "2147483647")
        # one core per task: pyarrow's worker-side compute/IO pools
        # (parquet decode in the fused paths) default to ALL host cores
        # per task — on a saturated executor that is pure oversubscription,
        # and it silently inflates low-parallelism throughput (a "2-core"
        # run decoding parquet with 32 arrow threads), corrupting scaling
        # measurements.  Env-parameterized for deployments that dedicate
        # >1 cpu per task (spark.task.cpus alignment).
        .config("spark.executorEnv.OMP_NUM_THREADS",
                os.environ.get("SIMDCOMP_WORKER_THREADS", "1"))
        .config("spark.executorEnv.ARROW_IO_THREADS",
                os.environ.get("SIMDCOMP_ARROW_IO_THREADS", "2"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        # shuffle/spill scratch on tmpfs when it has headroom (see
        # _scratch_dir): the engine's plans shuffle compressed bytes (or
        # nothing), so scratch stays small, and the shared sandbox disk is
        # co-tenant-thrashed (identical shuffle queries measured 1-14 s
        # depending on the window).
        .config("spark.local.dir", _scratch_dir())
        .getOrCreate()
    )


# ---------------------------------------------------------------------------
# Arrow buffer helpers (zero-copy list/binary column access)
# ---------------------------------------------------------------------------

def _list_to_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """list<int32> tokens column → (flat uint32 values in row order, row
    lengths) — the one token reader of every encode path.

    The offsets are read straight from the Arrow buffer:
    ``col.offsets.to_numpy()`` routes through the masked-array conversion
    (the offsets child inherits the list's validity in pyarrow), which
    lazily imports pandas and copies — measured ~1000x slower than the
    buffer view on fresh batches in the fused scan loop.  The offset
    width follows the column type: the fused scan reads user parquet
    whose Arrow schema may restore large_list (int64 offsets) — reading
    those as int32 would silently corrupt every row length.  A NULL row
    or NULL element raises: numpy would turn the values into float64 and
    the uint32 view would encode the float bits."""
    bufs = col.buffers()
    odt = np.int64 if pa.types.is_large_list(col.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=odt)[
        col.offset: col.offset + len(col) + 1].astype(np.int64)
    lo, hi = (int(off[0]), int(off[-1])) if off.size else (0, 0)
    # .values ignores the list's slice offset: null_count is O(1) on the
    # whole child, and only a child with nulls pays for the sliced count
    vals = col.values
    if col.null_count or (vals.null_count
                          and vals.slice(lo, hi - lo).null_count):
        raise ValueError(
            f"tokens column holds {col.null_count} NULL row(s) or NULL "
            "elements; NULL tokens cannot be encoded")
    if vals.type != pa.int32():
        raise ValueError(f"tokens must be list<int32>, got {col.type}")
    flat = vals.slice(lo, hi - lo).to_numpy(zero_copy_only=False)
    return flat.view(np.uint32), np.diff(off)


def _binary_to_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """binary column → (flat uint8 data in row order, row lengths)."""
    bufs = col.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[col.offset:
                                                 col.offset + len(col) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.zeros(0, np.uint8)
    flat = data[off[0]:off[-1]] if off.size else data[:0]
    return flat, np.diff(off).astype(np.int64)


def _offsets32(row_lens: np.ndarray) -> np.ndarray:
    """int32 Arrow offsets from row lengths, overflow-checked.

    Offsets are accumulated in int64 first: a batch of 8192 rows × 64k-token
    segments at width 32 can exceed 2**31-1 payload bytes, and an int32
    cumsum would silently wrap and corrupt the column.  Raising forces the
    caller to lower ``spark.sql.execution.arrow.maxRecordsPerBatch`` (or the
    split threshold) instead of writing garbage."""
    off64 = np.zeros(row_lens.size + 1, dtype=np.int64)
    np.cumsum(row_lens, out=off64[1:])
    if off64[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"Arrow batch payload is {int(off64[-1])} bytes > int32 offset "
            "range; reduce arrow.maxRecordsPerBatch or the split threshold")
    return off64.astype(np.int32)


def _binary_from_flat(data: np.ndarray, row_lens: np.ndarray) -> pa.Array:
    off = _offsets32(row_lens)
    return pa.Array.from_buffers(
        pa.binary(), row_lens.size,
        [None, pa.py_buffer(np.ascontiguousarray(off)),
         pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8))])


def _list_from_flat(values_i32: np.ndarray, row_lens: np.ndarray) -> pa.Array:
    off = _offsets32(row_lens)
    return pa.ListArray.from_arrays(
        pa.array(off, type=pa.int32()),
        pa.array(np.ascontiguousarray(values_i32, dtype=np.int32),
                 type=pa.int32()))


# ---------------------------------------------------------------------------
# the encoded format: one writer, one reader
# ---------------------------------------------------------------------------

def _write_encoded(rows, codec: str):
    """Writer of the encoded format for one Spark task: each ``(doc_ids,
    sources, seg_ids, flat uint32 tokens, row lengths)`` item of ``rows``
    (ids as Arrow arrays, seg_ids int32) becomes one ``ENCODED_SCHEMA``
    batch.  ``n_tok`` is always the row length, never a caller's column.
    With ``codec='auto'`` the task's first batch picks the codec for all
    of its batches; ``enc_ns`` is the task's cumulative encode time
    (metrics take the max per pid)."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else -1
    chosen = None if codec == "auto" else codec
    enc_ns = 0
    for doc_ids, sources, seg_ids, flat, lens in rows:
        t0 = time.perf_counter_ns()
        if chosen is None:
            chosen, _costs = choose_codec_flat(flat, lens)
        e = codecs.get(chosen).encode_flat(flat, lens)
        ch = content_hash_flat(flat, lens)
        enc_ns += time.perf_counter_ns() - t0
        n = lens.size
        yield pa.RecordBatch.from_arrays(
            [doc_ids, sources, seg_ids, pa.array(lens.astype(np.int32)),
             pa.array([chosen] * n, type=pa.string()),
             _binary_from_flat(e.widths, e.widths_lens),
             _binary_from_flat(e.inits, e.inits_lens),
             _binary_from_flat(e.payload, e.payload_lens),
             pa.array(np.full(n, pid, dtype=np.int32)),
             pa.array(np.full(n, enc_ns, dtype=np.int64)),
             _binary_from_flat(ch, np.full(n, 16, dtype=np.int64))],
            names=["doc_id", "source", "seg_id", "n_tok", "codec",
                   "widths", "inits", "payload", "pid", "enc_ns",
                   "content_hash"])


class _EncodedBatch:
    """Reader of the encoded format: the ``n_tok, codec, widths, inits,
    payload`` columns of one Arrow batch (in that order from column
    ``first``) as numpy buffers.  ``widths``, ``inits`` and ``payload``
    are (flat uint8 buffer, per-row byte lengths) pairs viewed zero-copy
    over the Arrow buffers; each column is read on first use."""

    def __init__(self, batch: pa.RecordBatch, first: int = 0):
        self._col = lambda i: batch.column(first + i)

    @cached_property
    def n_tok(self) -> np.ndarray:
        return self._col(0).to_numpy(zero_copy_only=False).astype(np.int64)

    @cached_property
    def names(self) -> list[str]:
        """The distinct codec names of the batch."""
        return self._col(1).unique().to_pylist()

    @cached_property
    def widths(self) -> tuple[np.ndarray, np.ndarray]:
        return _binary_to_flat(self._col(2))

    @cached_property
    def inits(self) -> tuple[np.ndarray, np.ndarray]:
        return _binary_to_flat(self._col(3))

    @cached_property
    def payload(self) -> tuple[np.ndarray, np.ndarray]:
        return _binary_to_flat(self._col(4))

    @property
    def inits_u32(self) -> np.ndarray:
        """The per-block uint32 inits (d1 chain inits, FOR block minima)."""
        return np.ascontiguousarray(self.inits[0]).view(np.uint32)

    @property
    def block_args(self) -> tuple:
        """(n_tok, widths, uint32 inits, payload, payload lengths): the
        leading arguments of the ``blocks.*_flat`` compressed-domain ops."""
        return (self.n_tok, self.widths[0], self.inits_u32, *self.payload)

    def by_codec(self, rows: np.ndarray | None = None):
        """Yield ``(codec name, batch row indices, view)`` per codec among
        ``rows`` (ascending row indices; every row by default).  When those
        rows are the whole batch and hold one codec, the view is the batch
        itself — no copy; otherwise each codec's rows are gathered into a
        compact view of their own."""
        n = self.n_tok.size
        if rows is None:
            rows = np.arange(n)
        if rows.size == n and len(self.names) == 1:
            yield self.names[0], rows, self
            return
        per_row = self._col(1).to_numpy(zero_copy_only=False)[rows]
        for name in np.unique(per_row):
            sel = rows[per_row == name]
            sub = object.__new__(_EncodedBatch)
            sub.n_tok, sub.names = self.n_tok[sel], [str(name)]
            for part in ("widths", "inits", "payload"):
                flat, lens = getattr(self, part)
                setattr(sub, part, (extract_rows(
                    flat, (np.cumsum(lens) - lens)[sel], lens[sel]),
                    lens[sel]))
            yield str(name), sel, sub

    def decode(self) -> tuple[np.ndarray, np.ndarray]:
        """(flat uint32 tokens in row order, per-row lengths): the decode
        core of every decode path; wrap with :func:`_list_from_flat` for a
        tokens list column."""
        out = np.empty(int(self.n_tok.sum()), dtype=np.uint32)
        tok_off = np.cumsum(self.n_tok) - self.n_tok
        for name, sel, sub in self.by_codec():
            flat = codecs.get(name).decode_flat(
                sub.n_tok, *sub.widths, *sub.inits, *sub.payload)
            if sub is self:
                return flat, self.n_tok
            out[multi_arange(tok_off[sel], sub.n_tok)] = flat
        return out, self.n_tok


# ---------------------------------------------------------------------------
# length-aware skew splitting (JVM-side, no Python)
# ---------------------------------------------------------------------------

def split_long_rows(df: DataFrame, threshold: int = DEFAULT_SPLIT_THRESHOLD
                    ) -> DataFrame:
    """Cut rows longer than ``threshold`` tokens into (doc_id, seg_id)
    segments of at most ``threshold`` tokens.  Lengths come from
    ``size(tokens)``, so a stale ``n_tok`` column cannot drop tokens.
    Pure Catalyst expressions — stays in whole-stage codegen, no UDF."""
    nseg = F.greatest(F.ceil(F.size("tokens") / threshold).cast("int"),
                      F.lit(1))
    return (
        df.withColumn("seg_id", F.explode(F.sequence(F.lit(0), nseg - 1)))
        .withColumn("tokens", F.slice("tokens",
                                      F.col("seg_id") * threshold + 1, threshold))
        .withColumn("n_tok", F.size("tokens"))
    )


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def encode(df: DataFrame, codec: str = "auto", shards: int | None = None,
           split_threshold: int | None = DEFAULT_SPLIT_THRESHOLD,
           salt: bool = False) -> DataFrame:
    """tokens table → encoded table.

    codec: a registry name, or 'auto' → per-partition cost-model selection
    (north rule).

    ``n_tok`` is recomputed from the tokens: the output always stores each
    row's true length, and an input ``n_tok`` column is neither trusted
    nor required.  NULL token rows or elements raise ``ValueError``.

    Shuffle discipline (the 100 TB decision): by default the encode is
    NARROW — scan-aligned, zero shuffles — because input task sizing is
    already bounded by ``spark.sql.files.maxPartitionBytes`` and the
    length-aware split bounds any single row.  ``salt=True`` inserts the
    explicit salt-based repartition on ``pmod(xxhash64(doc_id, seg_id),
    shards)`` BEFORE encoding, for inputs whose partitioning is itself
    skewed (e.g. one giant input file); note it shuffles RAW token arrays
    (4+ bytes/token in UnsafeRow) — prefer :func:`salt_encoded` afterwards,
    which shuffles the ~2 bits/token compressed output instead."""
    spark = df.sparkSession
    if split_threshold is not None:
        df = split_long_rows(df, split_threshold)
    elif "seg_id" not in df.columns:
        df = df.withColumn("seg_id", F.lit(0))
    if salt:
        shards = shards or int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = df.withColumn(
            "_shard", F.pmod(F.xxhash64("doc_id", "seg_id"), F.lit(shards)))
        df = df.repartition(shards, "_shard").drop("_shard")
    df = df.select("doc_id", "source", "seg_id", "tokens")

    def rows(it):
        for b in it:
            yield (b.column(0), b.column(1), b.column(2).cast(pa.int32()),
                   *_list_to_flat(b.column(3)))

    return df.mapInArrow(lambda it: _write_encoded(rows(it), codec),
                         schema=ENCODED_SCHEMA)


def _split_flat(doc_ids, sources, flat, lens, threshold):
    """numpy equivalent of :func:`split_long_rows` for the fused path:
    returns (doc_ids, sources, seg_ids, flat, lens) with every row ≤
    threshold tokens.  flat is unchanged (segments are contiguous slices)."""
    lens = np.asarray(lens, dtype=np.int64)
    nseg = np.maximum((lens + threshold - 1) // threshold, 1)
    if int(nseg.sum()) == lens.size:
        return (doc_ids, sources, np.zeros(lens.size, np.int32), flat, lens)
    rep = nseg.astype(np.int64)
    seg_ids = (np.arange(int(rep.sum()), dtype=np.int64)
               - np.repeat(np.cumsum(rep) - rep, rep)).astype(np.int32)
    new_lens = np.minimum(
        np.repeat(lens, rep) - seg_ids.astype(np.int64) * threshold,
        threshold)
    new_lens = np.maximum(new_lens, 0)
    idx = np.repeat(np.arange(lens.size), rep)
    return (doc_ids.take(idx), sources.take(idx), seg_ids, flat, new_lens)


def _input_files(path: str, snapshot_id: int | None = None) -> list[str]:
    """Resolve an input path to its parquet data files.

    Iceberg table dirs (``metadata/version-hint.text`` present) resolve
    through the snapshot's metadata → manifest-list → manifest tree
    (:func:`iceberg.data_files`): only the snapshot's LIVE files are
    returned — a plain directory walk over a multi-snapshot table would
    also pick up files that are dead in the current snapshot and
    double-read history.  ``snapshot_id`` time-travels.  Plain directories
    recurse (e.g. the resumable writer's ``shard=N`` layout)."""
    from pathlib import Path

    from . import iceberg
    if iceberg.is_iceberg_table(path):
        # ONE metadata-tree walk: name-safety guard (renamed/promoted/
        # re-added columns make name-addressed reads unsafe), delete
        # refusal, and the live-file list all come from the same
        # _snapshot_entries read
        _, data, dels = iceberg.fused_plan(path, snapshot_id)
        iceberg.refuse_raw_scan_on_deletes(path, dels)
        return [d["file_path"] for d in data]
    if snapshot_id is not None:
        raise ValueError(
            f"snapshot_id={snapshot_id} given but {path!r} is not an "
            "Iceberg table (no metadata/version-hint.text)")
    return sorted(str(p) for p in Path(path).rglob("*.parquet"))


def distributed_file_map(spark: SparkSession, files: list[str], fn,
                         schema: str) -> list:
    """Run a per-file footer-extraction Arrow function as a distributed
    job and collect the (small) per-file results: the driver only handles
    file NAMES; it never opens a data file.  Shared scaffold of
    :func:`_rowgroup_units` and ``iceberg._file_stats`` — at 100 TB /
    10^5-10^6 files a sequential driver loop over footers serializes
    minutes-to-hours of small-read I/O before any task can start."""
    if not files:
        return []
    return _file_name_df(spark, files).mapInArrow(fn, schema).collect()


def _file_name_df(spark: SparkSession, files: list[str]):
    """(path) DataFrame over file NAMES, partitioned for footer fan-out
    (≤4× default parallelism) — the shared scaffold that keeps the
    driver-lists-names/executors-open-files discipline in one place."""
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    return (spark.createDataFrame([(f,) for f in files], "path string")
            .repartition(min(len(files), par * 4)))


def _rowgroup_units(spark: SparkSession, path: str,
                    snapshot_id: int | None = None,
                    files: list[str] | None = None) -> DataFrame:
    """(file, row_group, rowgroup_file_row_offset) work units for the
    fused scan paths — one Spark task per parquet row group, so task size
    is bounded by the writer's row-group size regardless of file-count
    skew.  ``rg_off`` is the row group's first-row ordinal WITHIN its
    file — the coordinate system Iceberg v2 position deletes use, carried
    on every unit so the fused decode can apply deletes.  Input may be a
    plain parquet directory or an Iceberg table dir (:func:`_input_files`).

    Both the footer reads AND the (path, row_group) expansion are
    DISTRIBUTED: the driver only lists file names (one directory-metadata
    pass, the same listing Spark's own file index performs — or, for
    Iceberg, one metadata-tree read); it never opens a data file and
    never materializes the unit list.  At 100 TB ≈ 10^5-10^6 row groups
    the old code collected the per-file counts and built a Python list of
    every unit plus one Spark partition per row group (10^6 tasks); now
    the counts stay in the plan, ``explode(sequence(...))`` expands them
    executor-side, and partitions are capped at 4× default parallelism
    (multiple units per task, round-robin balanced).  ``files`` restricts
    the scan to an explicit subset (the resumable ingest's batch unit)."""
    if files is None:
        files = _input_files(path, snapshot_id)
    if not files:
        return spark.createDataFrame(
            [], "path string, rg int, rg_off long")
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    factor = int(os.environ.get("SIMDCOMP_UNIT_FACTOR", "4"))
    # small-input fast path: when the file list alone already saturates
    # the unit budget there is nothing for row-group planning to balance
    # UNLESS some file is large — probe sizes with one driver-side stat
    # per file (bounded: only attempted below par*factor files) and emit
    # WHOLE-FILE units (rg = -1), skipping the distributed footer job,
    # its exchange, and a stage of per-task overhead.  Workers iterate
    # every row group of their file in order, so file-row offsets (the
    # position-delete coordinate system) stay correct from rg_off = 0.
    if len(files) <= par * factor:
        try:
            small = all(os.path.getsize(f) <= (256 << 20) for f in files)
        except OSError:
            small = False          # non-local paths: plan row groups
        if small:
            return (spark.createDataFrame(
                [(f, -1, 0) for f in files],
                "path string, rg int, rg_off long")
                .repartition(len(files)))
    fdf = _file_name_df(spark, files)

    def footer_counts(it):
        import pyarrow.parquet as pq
        for batch in it:
            paths = batch.column(0).to_pylist()
            offs = []
            for p in paths:
                md = pq.ParquetFile(p).metadata
                # per-row-group FILE row offsets (prefix sums): the
                # coordinate system v2 position deletes are written in
                o, acc = [], 0
                for g in range(md.num_row_groups):
                    o.append(acc)
                    acc += md.row_group(g).num_rows
                offs.append(o)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0),
                 pa.array(offs, type=pa.list_(pa.int64()))],
                names=["path", "offs"])

    counts = fdf.mapInArrow(footer_counts, "path string, "
                                           "offs array<long>")
    units = (counts.where(F.size("offs") > 0)
             .select("path",
                     F.posexplode("offs").alias("rg", "rg_off")))
    return units.repartition(par * factor)


def _role_columns(path: str, roles: list[str],
                  meta: dict | None = None) -> dict:
    """Physical column names for the engine's canonical roles: identity
    on plain parquet dirs; rename-aware resolution (by field id through
    schema history) on Iceberg tables — see
    :func:`iceberg.fused_role_columns`.  ``meta`` passes an
    already-loaded table metadata dict through (no re-read).  The
    resolution is always against the CURRENT schema: the fused guard
    (assert_fused_name_safe) has already refused any snapshot whose
    live files carry other names."""
    from pathlib import Path
    from . import iceberg
    if iceberg.is_iceberg_table(path):
        return iceberg.fused_role_columns(path, roles, meta=meta)
    return {r: r for r in roles}


def encode_files(spark: SparkSession, path: str, codec: str = "auto",
                 split_threshold: int = DEFAULT_SPLIT_THRESHOLD,
                 batch_rows: int = 2048,
                 snapshot_id: int | None = None,
                 files: list[str] | None = None) -> DataFrame:
    """Fused scan→encode: Spark schedules one task per parquet row-group,
    and the worker reads it with pyarrow directly — the token buffers never
    cross the JVM row format at all.

    ``path`` may be a plain parquet directory OR an Iceberg table dir of
    pre-tokenized sequences (the north-rule input shape): Iceberg inputs
    plan work units from the snapshot's live data files only, and
    ``snapshot_id`` encodes a historic snapshot (time travel).

    This is the maximum-throughput ingest path for the 100 TB job: encode
    consumes EVERY row and column of the tokens table, so Catalyst's scan
    pushdown has nothing to push, and the JVM per-element list conversion
    (the dominant fixed cost of the `mapInArrow`-over-scan plan) is pure
    overhead.  Work units are (file, row_group) so task size is bounded by
    the writer's row-group size regardless of file count skew.

    ``batch_rows`` trades per-batch Python overhead against cache
    residency: 2048 rows ≈ 7 MB of tokens keeps the per-thread working set
    near the L3 share at full thread count (measured +7-10% over 8192 at
    8 and 32 cores on this host; 1024 regresses)."""
    import pyarrow.parquet as pq

    fdf = _rowgroup_units(spark, path, snapshot_id, files)
    cm = _role_columns(path, ["doc_id", "tokens", "source"])
    cols = [cm["doc_id"], cm["tokens"], cm["source"]]

    def rows(it):
        for batch in it:
            for path_, rg in zip(batch.column(0).to_pylist(),
                                 batch.column(1).to_pylist()):
                pf = pq.ParquetFile(path_, pre_buffer=True)
                rgs = [rg] if rg >= 0 else None   # -1 = whole-file unit
                for rb in pf.iter_batches(batch_size=batch_rows,
                                          row_groups=rgs,
                                          columns=cols):
                    rb = rb.select(cols)  # parquet yields file order
                    doc_ids, sources, seg_ids, flat, lens = _split_flat(
                        rb.column(0), rb.column(2),
                        *_list_to_flat(rb.column(1)), split_threshold)
                    yield (doc_ids, sources, pa.array(seg_ids, pa.int32()),
                           flat, lens)

    return fdf.mapInArrow(lambda it: _write_encoded(rows(it), codec),
                          schema=ENCODED_SCHEMA)


def salt_encoded(df_encoded: DataFrame, shards: int | None = None) -> DataFrame:
    """Salt-based repartition of the ENCODED table (north rule: explicit
    salt-based repartitioning) — rebalances output for writing/downstream
    joins while shuffling compressed bytes, not raw tokens."""
    spark = df_encoded.sparkSession
    shards = shards or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (df_encoded
            .withColumn("_shard", F.pmod(F.xxhash64("doc_id", "seg_id"),
                                         F.lit(shards)))
            .repartition(shards, "_shard").drop("_shard"))


def _delete_assignment(dels: list[dict], files: list[str]
                       ) -> dict[str, list[str]]:
    """{data file → delete files that may reference it}, planned from the
    delete manifests' file_path BOUNDS (the reserved-field-id bounds the
    delete writer records) — metadata only, no delete file is opened.  A
    delete file lacking bounds is conservatively assigned to every data
    file."""
    from . import iceberg
    spans = []
    for d in dels:
        lbs = {e["key"]: e["value"] for e in (d.get("lower_bounds") or [])}
        ubs = {e["key"]: e["value"] for e in (d.get("upper_bounds") or [])}
        fid = iceberg._FP_FID
        if fid in lbs and fid in ubs:
            spans.append((lbs[fid].decode(), ubs[fid].decode(),
                          d["file_path"]))
        else:
            spans.append((None, None, d["file_path"]))
    return {f: [p for lo, hi, p in spans
                if lo is None or lo <= f <= hi] for f in files}


def _eq_delete_assignment(table_dir: str, entries: list[dict],
                          eq_dels: list[dict],
                          meta: dict | None = None
                          ) -> dict[str, str | None]:
    """{data file → JSON [{cols, paths}] of equality-delete files that
    apply to it} under the v2 sequence rule: a delete applies only to
    data files with a STRICTLY smaller data sequence number, so rows
    (re-)appended after the delete survive.  Metadata-only planning; the
    JSON rides the broadcast work-unit map to the workers."""
    import json
    from . import iceberg
    if meta is None:
        meta = iceberg._load_metadata(table_dir)
    groups = iceberg._eq_delete_groups(meta, eq_dels)
    out: dict[str, str | None] = {}
    for e in entries:
        fseq = int(e.get("_sequence_number") or 0)
        lst = []
        for cols, ds in groups.items():
            paths = [d["file_path"] for d in ds
                     if int(d["_sequence_number"]) > fseq]
            if paths:
                lst.append({"cols": list(cols), "paths": paths})
        out[e["file_path"]] = json.dumps(lst) if lst else None
    return out


def decode_files(spark: SparkSession, path: str,
                 batch_rows: int = 2048,
                 snapshot_id: int | None = None,
                 files: list[str] | None = None,
                 plan: tuple | None = None) -> DataFrame:
    """Fused scan→decode, symmetric to :func:`encode_files`: one task per
    parquet row group of an ENCODED table, read with pyarrow inside the
    worker — the packed binary columns never enter the JVM row format.

    Decode consumes every row of the encoded table and produces every token,
    so there is no Catalyst pushdown to lose; skipping the JVM
    columnar→Arrow conversion removes the decode side's dominant fixed cost
    (the encode side's measurement in BENCH.md applies symmetrically).
    Returns (doc_id, source, seg_id, tokens) segments; reassemble split rows
    with :func:`reassemble_segments` if the table was length-split.
    ``files`` restricts the decode to an explicit subset — e.g. the
    output of ``iceberg.prune_files`` for a metadata-planned range
    decode that never touches the other files.

    Iceberg inputs with DELETES are honored without compaction.
    POSITION deletes: each work unit knows its row group's FILE row
    offset (the delete coordinate system), the planner assigns delete
    files to data files from manifest bounds alone, and the worker reads
    only the matching coordinate rows (parquet predicate pushdown over
    the sorted file_path column) and masks them out per Arrow batch
    BEFORE any kernel call.  EQUALITY deletes: the planner assigns each
    data file the delete files with a strictly larger sequence number
    (the v2 rule — later re-appends survive), and the worker loads those
    keys once per task (cached) and drops matching rows per batch.
    Scale shape: the per-unit delete read is bounded by the delete-file
    sizes, not the table's."""
    import json
    import pyarrow.parquet as pq
    from pathlib import Path

    del_map = eq_map = None
    ice_meta = None
    from . import iceberg
    if plan is not None or iceberg.is_iceberg_table(path):
        # ONE metadata-tree walk covers the name-safety guard, the live
        # file list, and the delete inventory — at 10^5-10^6 files each
        # extra walk is a full manifest-tree read.  ``plan`` reuses a
        # caller's :func:`iceberg.fused_plan` result (guard already run
        # against it), for zero extra walks
        ice_meta, entries, all_dels = (
            plan if plan is not None
            else iceberg.fused_plan(path, snapshot_id))
        if files is None:
            files = [e["file_path"] for e in entries]
        else:
            fset = set(files)
            entries = [e for e in entries if e["file_path"] in fset]
        if all_dels:
            pos_dels = [d for d in all_dels if d.get("content", 0) == 1]
            eq_dels = [d for d in all_dels if d.get("content", 0) == 2]
            if pos_dels:
                del_map = _delete_assignment(pos_dels, files)
            if eq_dels:
                eq_map = _eq_delete_assignment(path, entries, eq_dels,
                                               meta=ice_meta)
    fdf = _rowgroup_units(spark, path, snapshot_id, files)
    if del_map is not None or eq_map is not None:
        keys = set(del_map or {}) | set(eq_map or {})
        dmap = spark.createDataFrame(
            [(k, (del_map or {}).get(k), (eq_map or {}).get(k))
             for k in sorted(keys)],
            "path string, dels array<string>, eq string")
        fdf = fdf.join(F.broadcast(dmap), "path", "left")
    else:
        fdf = (fdf.withColumn("dels", F.lit(None).cast("array<string>"))
               .withColumn("eq", F.lit(None).cast("string")))
    fdf = fdf.select("path", "rg", "rg_off", "dels", "eq")
    cm = _role_columns(path, ["doc_id", "source", "seg_id", "n_tok",
                              "codec", "widths", "inits", "payload"],
                       meta=ice_meta)
    cols = [cm[r] for r in ("doc_id", "source", "seg_id", "n_tok",
                            "codec", "widths", "inits", "payload")]
    # equality-delete keys may be columns OUTSIDE the decoded role set
    # (content_hash is the natural dedup/takedown key): read them too,
    # appended after the fixed 8 so the decode indices stay stable
    extra_cols: list[str] = []
    if eq_map:
        seen = set(cols)
        for spec in eq_map.values():
            for g in (json.loads(spec) if spec else []):
                for c in g["cols"]:
                    if c not in seen:
                        seen.add(c)
                        extra_cols.append(c)
    # output under the engine's CANONICAL role names regardless of
    # storage-level renames — encode_files normalizes the same way, and
    # reassemble_segments / downstream consumers address doc_id/source/
    # seg_id by these names
    out_names = ["doc_id", "source", "seg_id", "tokens"]
    out_schema = DECODED_SCHEMA

    def _deleted_positions(del_paths, path_, cache: dict):
        """Sorted deleted positions of one data file; cached per task on
        (delete paths, data file) — row-group work units of the same file
        share an assignment, so without the cache every delete file is
        re-read once PER ROW GROUP on heavily deleted tables."""
        ck = (tuple(del_paths), path_)
        if ck not in cache:
            import pyarrow.dataset as pads
            dset = pads.dataset(list(del_paths), format="parquet")
            t = dset.to_table(filter=pads.field("file_path") == path_,
                              columns=["pos"])
            cache[ck] = np.sort(
                t.column("pos").to_numpy(zero_copy_only=False))
        return cache[ck]

    def _eq_killers(eq_spec: str, cache: dict):
        """[(key col names, set of deleted key tuples/values)] for one
        unit; delete-file reads are cached per task (many row groups of
        one file share the same assignment)."""
        import pyarrow.dataset as pads
        out = []
        for g in json.loads(eq_spec):
            ck = (tuple(g["cols"]), tuple(g["paths"]))
            if ck not in cache:
                t = pads.dataset(g["paths"], format="parquet") \
                    .to_table(columns=g["cols"])
                if len(g["cols"]) == 1:
                    cache[ck] = set(t.column(0).to_pylist())
                else:
                    cache[ck] = set(zip(*[t.column(c).to_pylist()
                                          for c in g["cols"]]))
            out.append((g["cols"], cache[ck]))
        return out

    def fn(it):
        eq_cache: dict = {}
        pos_cache: dict = {}
        for batch in it:
            for path_, rg, rg_off, dels, eq in zip(
                    batch.column(0).to_pylist(),
                    batch.column(1).to_pylist(),
                    batch.column(2).to_pylist(),
                    batch.column(3).to_pylist(),
                    batch.column(4).to_pylist()):
                pf = pq.ParquetFile(path_, pre_buffer=True)
                dead = (_deleted_positions(dels, path_, pos_cache)
                        if dels else None)
                killers = _eq_killers(eq, eq_cache) if eq else None
                unit_cols = cols
                if killers:
                    need = {c for kcols, _ in killers for c in kcols}
                    missing = sorted(
                        need - set(pf.schema_arrow.names))
                    if missing:
                        raise ValueError(
                            f"{path_}: equality-delete key column(s) "
                            f"{missing} are not in this data file "
                            "(added after the file was written?) — "
                            "the fused decode cannot evaluate the "
                            "delete; use read_table, or compact_files "
                            "to materialize the deletes")
                    unit_cols = cols + [c for c in extra_cols
                                        if c in need]
                cur = rg_off
                rgs = [rg] if rg >= 0 else None   # -1 = whole-file unit
                for rb in pf.iter_batches(batch_size=batch_rows,
                                          row_groups=rgs,
                                          columns=unit_cols):
                    rb = rb.select(unit_cols)  # parquet yields file order
                    n = rb.num_rows
                    if dead is not None and dead.size:
                        lo, hi = np.searchsorted(dead, [cur, cur + n])
                        if hi > lo:
                            mask = np.ones(n, dtype=bool)
                            mask[dead[lo:hi] - cur] = False
                            rb = rb.filter(pa.array(mask))
                    cur += n
                    if killers and rb.num_rows:
                        keep = np.ones(rb.num_rows, dtype=bool)
                        for kcols, kset in killers:
                            idxs = [unit_cols.index(c) for c in kcols]
                            vals = (rb.column(idxs[0]).to_pylist()
                                    if len(idxs) == 1 else
                                    zip(*[rb.column(i).to_pylist()
                                          for i in idxs]))
                            keep &= np.fromiter(
                                (v not in kset for v in vals),
                                dtype=bool, count=rb.num_rows)
                        if not keep.all():
                            rb = rb.filter(pa.array(keep))
                    if rb.num_rows == 0:
                        continue
                    flat, lens = _EncodedBatch(rb, 3).decode()
                    yield pa.RecordBatch.from_arrays(
                        [rb.column(0), rb.column(1),
                         rb.column(2).cast(pa.int32()),
                         _list_from_flat(flat.view(np.int32), lens)],
                        names=out_names)

    return fdf.mapInArrow(fn, schema=out_schema)


def decode_incremental(spark: SparkSession, path: str,
                       since_snapshot_id: int,
                       to_snapshot_id: int | None = None,
                       batch_rows: int = 2048,
                       _preplanned: tuple | None = None) -> DataFrame:
    """Fused decode of ONLY the data appended to an Iceberg table after
    ``since_snapshot_id`` (a snapshot cursor the caller saved from its
    previous run) — metadata-only planning via
    :func:`iceberg.incremental_files`, then :func:`decode_files` on the
    file subset.  The per-run consumption unit of a recurring pipeline
    at 100 TB: a run's cost scales with what LANDED, not the table.
    Raises on non-append history in the range (the caller re-seeds from
    a full read).  Empty range returns an empty segments frame."""
    from . import iceberg
    if _preplanned is not None:
        fplan, inc = _preplanned
    else:
        if to_snapshot_id is None:
            # pin "current" ONCE so the file plan and the decode cannot
            # resolve it to different snapshots when an append races in
            to_snapshot_id = iceberg._load_metadata(path)[
                "current-snapshot-id"]
        # ONE manifest-tree walk serves the cursor diff AND the decode
        # plan — incremental consumers are exactly the
        # long-manifest-chain tables where each walk is expensive
        fplan = iceberg.fused_plan(path, to_snapshot_id)
        inc = iceberg.incremental_files(path, since_snapshot_id,
                                        to_snapshot_id,
                                        preloaded=(fplan[0], fplan[1]))
    if not inc:
        return spark.createDataFrame([], DECODED_SCHEMA)
    return decode_files(spark, path, batch_rows=batch_rows,
                        snapshot_id=to_snapshot_id,
                        files=[d["file_path"] for d in inc],
                        plan=fplan)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _bare_scan_plan(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is just projections/filters over
    ONE file relation — i.e. re-executing it costs a column-pruned scan,
    not an arbitrary subtree.  Used to gate cheap metadata probes; any
    parse surprise returns False (probe skipped, never wrong results)."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return False
    ok = ("Project", "Filter", "Relation", "LogicalRelation", "RelationV2")
    names = [ln.lstrip(" :+-") for ln in tree.splitlines() if ln.strip()]
    return 0 < len(names) <= 4 and all(n.startswith(ok) for n in names)


def decode(df_encoded: DataFrame, reassemble: bool = True) -> DataFrame:
    """encoded table → tokens table (doc_id, source, tokens, n_tok).

    reassemble=False keeps (doc_id, seg_id, tokens) segments and skips the
    reassembly shuffle — use when no row exceeded the split threshold.

    reassemble=True avoids the shuffle when it can PROVE it is a no-op:
    if the input is a bare scan (cheap to re-read — never an arbitrary
    subtree), a one-pass probe of (max seg_id, count, distinct doc_ids)
    checks that every doc is a single segment; the reassembly shuffle of
    full token arrays is then dropped from the plan (guide §2.4 "remove
    shuffles outright").

    When reassembly IS needed, the shuffle moves the COMPRESSED segments
    (repartition by doc_id + sort by seg_id, decode-and-concatenate
    post-shuffle in one vectorized pass) rather than decoded 32-bit
    arrays — 3-16× fewer bytes across the exchange and no
    ObjectHashAggregate/array_sort/flatten over token arrays (guide §2.3
    / §8: "make every shuffle but the last operate on a lightweight
    proxy").  Concatenation in seg_id order is just merged row lengths
    over the already-ordered flat decode buffer.  Note: rows with a
    DUPLICATE (doc_id, seg_id) — malformed input the writer never emits
    — concatenate in partition order rather than the old struct-sort's
    content order."""
    cols = ["doc_id", "source", "seg_id", "n_tok", "codec", "widths",
            "inits", "payload"]
    src = df_encoded.select(*cols)
    single_segment = False
    if reassemble and _bare_scan_plan(df_encoded):
        # two-step probe, cheapest first: a pruned seg_id-only scan
        # answers the common split-table case without touching doc_id;
        # the distinct check runs only when seg_ids are all 0
        mx = df_encoded.select("seg_id").agg(F.max("seg_id")).first()[0]
        if mx is None or mx == 0:
            probe = df_encoded.select("doc_id").agg(
                F.count("*").alias("n"),
                F.countDistinct("doc_id").alias("nd")).first()
            single_segment = probe["n"] == probe["nd"]

    def decode_fn(it):
        for batch in it:
            flat, lens = _EncodedBatch(batch, 3).decode()
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 batch.column(2).cast(pa.int32()),
                 _list_from_flat(flat.view(np.int32), lens)],
                names=["doc_id", "source", "seg_id", "tokens"])

    dec = src.mapInArrow(decode_fn, schema=DECODED_SCHEMA)
    if not reassemble:
        return dec.withColumn("n_tok", F.size("tokens"))
    if single_segment:
        # provably one segment per doc: row-identical to the reassembly
        # (each doc is one segment) with the exchange removed
        return dec.select("doc_id", "source", "tokens") \
            .withColumn("n_tok", F.size("tokens"))
    return _decode_reassembled(src)


def _decode_reassembled(src: DataFrame) -> DataFrame:
    """Reassembling decode over ENCODED segments: shuffle compressed
    bytes by doc_id, sort segments in place, decode each partition's
    batches through the flat core and merge contiguous same-doc rows by
    summing their lengths (the flat buffer is already in concatenation
    order).  The only state across Arrow batches is the open tail doc."""
    spark = src.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    srt = (src.repartition(n, "doc_id")
           .sortWithinPartitions("doc_id", "seg_id"))

    def fn(it):
        import pyarrow.compute as pc
        carry_id = None          # python str of the open doc
        carry_src = None
        carry_flat: list[np.ndarray] = []

        def emit_carry():
            flat = (carry_flat[0] if len(carry_flat) == 1
                    else np.concatenate(carry_flat))
            return pa.RecordBatch.from_arrays(
                [pa.array([carry_id], type=pa.string()),
                 pa.array([carry_src], type=pa.string()),
                 _list_from_flat(flat.view(np.int32),
                                 np.array([flat.size], dtype=np.int64))],
                names=["doc_id", "source", "tokens"])

        for batch in it:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            flat, lens = _EncodedBatch(batch, 3).decode()
            ids = batch.column(0)
            # contiguous same-doc runs: boundary where id[i] != id[i-1]
            neq = pc.not_equal(ids.slice(1), ids.slice(0, nrows - 1))
            neq = neq.to_numpy(zero_copy_only=False).astype(bool) \
                if nrows > 1 else np.zeros(0, dtype=bool)
            starts = np.concatenate(([0], np.flatnonzero(neq) + 1))
            ends = np.concatenate((starts[1:], [nrows]))
            off = np.concatenate(([0], np.cumsum(lens)))
            first_id = ids[0].as_py()
            if carry_id is not None and first_id == carry_id:
                carry_flat.append(flat[:off[ends[0]]])
                starts, ends = starts[1:], ends[1:]
            elif carry_id is not None:
                yield emit_carry()
                carry_id = None
                carry_flat = []
            if starts.size:
                if carry_id is not None:
                    yield emit_carry()
                # hold back the batch's last doc — it may continue
                carry_id = ids[starts[-1]].as_py()
                carry_src = batch.column(1)[starts[-1]].as_py()
                carry_flat = [flat[off[starts[-1]]:off[ends[-1]]]]
                starts, ends = starts[:-1], ends[:-1]
            if starts.size:
                doc_lens = off[ends] - off[starts]
                take = pa.array(starts, type=pa.int64())
                yield pa.RecordBatch.from_arrays(
                    [ids.take(take), batch.column(1).take(take),
                     _list_from_flat(
                         flat[off[starts[0]]:off[ends[-1]]]
                         .view(np.int32), doc_lens)],
                    names=["doc_id", "source", "tokens"])
        if carry_id is not None:
            yield emit_carry()

    out = srt.mapInArrow(
        fn, schema="doc_id string, source string, tokens array<int>")
    return out.withColumn("n_tok", F.size("tokens"))


def reassemble_segments(dec: DataFrame) -> DataFrame:
    """(doc_id, seg_id, tokens) segments → whole-document rows, segments
    concatenated in seg_id order by a decoded-array ``groupBy(doc_id) →
    array_sort → flatten`` — for :func:`decode_files` consumers (the
    fused path returns segments so the shuffle is opt-in).
    :func:`decode` does not use it: it shuffles compressed segments."""
    return (
        dec.groupBy("doc_id")
        .agg(F.first("source").alias("source"),
             F.flatten(F.transform(
                 F.array_sort(F.collect_list(F.struct("seg_id", "tokens"))),
                 lambda s: s.tokens)).alias("tokens"))
        .withColumn("n_tok", F.size("tokens"))
    )


def point_lookup(df_encoded: DataFrame, index_col: str = "lookup_idx"
                 ) -> DataFrame:
    """Compressed-domain random access: for each encoded row, the token at
    position ``row[index_col]`` — decoding AT MOST ONE BLOCK, never the row.

    The per-block widths/inits columns act as the zone-map manifest
    (SURVEY.md §3.3): the target block's byte offset is a prefix sum of the
    size formula, and the value comes from ``select_for``/``select_d1``
    (simdselectFOR src/simdfor.c:14987, simdselectd1
    src/simdpackedselect.c:8096).  Non-block codecs fall back to row decode.
    Returns (doc_id, seg_id, idx, val)."""

    cols = ["doc_id", "seg_id", "n_tok", "codec", "widths", "inits",
            "payload", index_col]
    src = df_encoded.select(*cols)

    def fn(it):
        for batch in it:
            v = _EncodedBatch(batch, 2)
            idxs = batch.column(7).to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            vsel = np.nonzero((idxs >= 0) & (idxs < v.n_tok))[0]
            val = np.zeros(v.n_tok.size, dtype=np.uint32)
            for name, sel, sub in v.by_codec(vsel):
                if name in _BLOCK_MODES:
                    val[sel] = blocks.select_flat(*sub.block_args, idxs[sel],
                                                  _BLOCK_MODES[name])
                else:
                    # non-block codecs: vectorized decode of just these rows
                    flat, lens = sub.decode()
                    val[sel] = flat[np.cumsum(lens) - lens + idxs[sel]]
            take = pa.array(vsel, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(take),
                 batch.column(1).take(take).cast(pa.int32()),
                 pa.array(idxs[vsel].astype(np.int32)),
                 pa.array(val[vsel].view(np.int32))],
                names=["doc_id", "seg_id", "idx", "val"])

    return src.mapInArrow(fn, schema="doc_id string, seg_id int, idx int, val int")


def _lower_bound(name: str, v: _EncodedBatch, key: int) -> np.ndarray:
    """Per-row lower_bound(key) over one codec's SORTED rows (d1 or for)."""
    search = {"d1": blocks.search_sorted_flat,
              "for": blocks.search_sorted_for_flat}[name]
    return search(*v.block_args, key)


def search_sorted(df_encoded: DataFrame, key: int) -> DataFrame:
    """Lower-bound search over SORTED rows with block skipping, for both
    block families that support it: d1 (chain inits are prev-block lasts →
    simdsearchd1 semantics, src/simdpackedsearch.c) and FOR (block minima
    are block firsts → simdsearchwithlengthFOR semantics,
    src/simdfor.c:15016, lifted across blocks).  Exactly one block is
    decoded per row, batched per (width, block-length) group.  Returns
    (doc_id, seg_id, n_tok, idx) with idx == n_tok when every value <
    key."""
    cols = ["doc_id", "seg_id", "n_tok", "codec", "widths", "inits", "payload"]
    src = df_encoded.select(*cols)

    def fn(it):
        for batch in it:
            v = _EncodedBatch(batch, 2)
            idx = np.zeros(v.n_tok.size, dtype=np.int64)
            for name, sel, sub in v.by_codec():
                idx[sel] = _lower_bound(name, sub, key)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1).cast(pa.int32()),
                 pa.array(v.n_tok.astype(np.int32)),
                 pa.array(idx.astype(np.int32))],
                names=["doc_id", "seg_id", "n_tok", "idx"])

    return src.mapInArrow(fn, schema="doc_id string, seg_id int, n_tok int, idx int")


def range_count(df_encoded: DataFrame, lo: int, hi: int) -> DataFrame:
    """Per-row count of values in ``[lo, hi)`` over SORTED encoded rows
    WITHOUT decoding: two compressed-domain lower-bound probes per row
    (count = lower_bound(hi) - lower_bound(lo)) in ONE narrow pass — at
    most two blocks touched per row, one scan, no join/shuffle.
    Returns (doc_id, seg_id, n_tok, n_in_range)."""
    cols = ["doc_id", "seg_id", "n_tok", "codec", "widths", "inits",
            "payload"]
    src = df_encoded.select(*cols)

    def fn(it):
        for batch in it:
            v = _EncodedBatch(batch, 2)
            bad = sorted(set(v.names) - {"d1", "for"})
            if bad:
                raise ValueError(
                    f"range_count requires a sorted-row family (d1/for), "
                    f"got codec(s) {bad}")
            n_in = np.zeros(v.n_tok.size, dtype=np.int64)
            for name, sel, sub in v.by_codec():
                n_in[sel] = (_lower_bound(name, sub, hi)
                             - _lower_bound(name, sub, lo))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1).cast(pa.int32()),
                 pa.array(v.n_tok.astype(np.int32)),
                 pa.array(n_in.astype(np.int32))],
                names=["doc_id", "seg_id", "n_tok", "n_in_range"])

    return src.mapInArrow(
        fn, schema="doc_id string, seg_id int, n_tok int, n_in_range int")


def _zones_admit(v: _EncodedBatch, mode: str, probes: np.ndarray
                 ) -> np.ndarray:
    """Per row of one block codec's view: does any block's value envelope
    (from widths + inits alone, see :func:`contains_token`) hold a probe?"""
    counts = v.widths[1]                     # blocks per row
    w = v.widths[0].astype(np.int64)
    span = np.where(w >= 32, np.int64(0xFFFFFFFF), (np.int64(1) << w) - 1)
    if mode == "plain":
        lb, ub = np.zeros(w.size, dtype=np.int64), span
    else:
        lb = v.inits_u32.astype(np.int64)
        if mode == "for":
            ub = np.minimum(lb + span, 0xFFFFFFFF)
        else:
            # sorted d1: block b ends at block b+1's init; the row's LAST
            # block is bounded by its own cumulative-delta span
            ub = np.empty_like(lb)
            ub[:-1] = lb[1:]
            nz = counts > 0
            last = (np.cumsum(counts) - 1)[nz]
            blen_last = v.n_tok[nz] - 128 * (counts[nz] - 1)
            ub[last] = np.minimum(lb[last] + blen_last * span[last],
                                  0xFFFFFFFF)
    # block survives iff SOME probe lands in [lb, ub]: one searchsorted
    # over the sorted probe set per bound, then any() per row
    blk_ok = (np.searchsorted(probes, lb, side="left")
              < np.searchsorted(probes, ub, side="right"))
    ok = np.zeros(counts.size, dtype=bool)
    ok[np.repeat(np.arange(counts.size), counts)[blk_ok]] = True
    return ok


def contains_token(df_encoded: DataFrame,
                   token: "int | list[int]",
                   assume_sorted: bool = False) -> DataFrame:
    """Compressed-domain membership predicate: the (doc_id, seg_id) rows
    whose token sequence contains ``token`` — or ANY of a list of tokens
    (blocklist scans: flagged vocabulary, special-token leakage) —
    decoding ONLY rows whose per-block ZONE MAPS admit a probe; the
    reference's zone-skip discipline (simdsearchd1's per-block
    init/width pruning, /root/reference/src/simdpackedsearch.c) lifted
    to a DataFrame predicate.

    Prescreen per block from widths + inits alone (payload untouched):
    ``bitpack`` blocks can contain t only if t <= 2^w - 1; ``for``
    blocks only if init <= t <= init + 2^w - 1 (sound whatever the
    data: the FOR frame stores block minima and non-negative deltas) —
    with a probe SET, a block survives only if some probe falls in its
    envelope (one searchsorted over the sorted probes per block).
    ``d1`` rows are conservatively candidates by default (wrap-around
    delta semantics make init/width bounds unsound on unsorted rows);
    ``assume_sorted=True`` — the caller-asserted contract
    :func:`search_sorted` already uses — enables EXACT-upper d1 zones:
    block b's values lie in [init_b, init_{b+1}] (the next block's init
    IS this block's last value), the row's last block bounded by
    init + blen*(2^w-1).  Non-block codecs always decode.  Candidate
    rows then decode through the shared grouped core and are checked
    exactly — on probes outside a source's vocabulary range the scan
    never touches payload bytes."""
    probes = np.unique(np.asarray(
        [token] if np.isscalar(token) else list(token),
        dtype=np.int64))
    if probes.size == 0:
        raise ValueError("contains_token: empty probe set")
    cols = ["doc_id", "seg_id", "n_tok", "codec", "widths", "inits",
            "payload"]
    src = df_encoded.select(*cols)

    def fn(it):
        for batch in it:
            v = _EncodedBatch(batch, 2)
            cand = v.n_tok > 0
            for name, sel, sub in v.by_codec():
                mode = _BLOCK_MODES.get(name)
                if mode is None or (mode == "d1" and not assume_sorted):
                    continue    # no zone map / d1 wrap semantics: no bound
                cand[sel] &= _zones_admit(sub, mode, probes)
            hits = np.zeros(v.n_tok.size, dtype=bool)
            idx = np.nonzero(cand)[0]
            if idx.size:
                flat, lens = _EncodedBatch(batch.filter(pa.array(cand)),
                                           2).decode()
                row_of = np.repeat(np.arange(lens.size), lens)
                if probes.size == 1 and 0 <= probes[0] <= 0xFFFFFFFF:
                    # dominant single-probe path: straight vectorized
                    # uint32 compare, no int64 widening copy
                    present = flat == np.uint32(probes[0])
                else:
                    vals = flat.astype(np.int64)
                    present = (np.searchsorted(probes, vals, "left")
                               < np.searchsorted(probes, vals, "right"))
                hits[idx[np.unique(row_of[present])]] = True
            out = batch.filter(pa.array(hits))
            yield pa.RecordBatch.from_arrays(
                [out.column(0), out.column(1).cast(pa.int32())],
                names=["doc_id", "seg_id"])

    return src.mapInArrow(fn, schema="doc_id string, seg_id int")


def minmax_sorted(df_encoded: DataFrame) -> DataFrame:
    """Per-row (min, max) of SORTED encoded rows WITHOUT decoding: min is
    element 0 and max is element n-1, each answered by a single-block
    compressed-domain select (blocks.select_flat) — the engine-level analog
    of ``simdmaxmin`` (/root/reference/src/simdcomputil.c:95-156) running
    on zone-map probes instead of a scan.  Works for the d1 and FOR
    families (sorted rows).  Returns (doc_id, seg_id, n_tok, min_tok,
    max_tok); empty rows are dropped."""
    cols = ["doc_id", "seg_id", "n_tok", "codec", "widths", "inits",
            "payload"]
    src = df_encoded.select(*cols)

    def fn(it):
        for batch in it:
            v = _EncodedBatch(batch, 2)
            vsel = np.nonzero(v.n_tok > 0)[0]
            mn = np.zeros(v.n_tok.size, dtype=np.uint32)
            mx = np.zeros(v.n_tok.size, dtype=np.uint32)
            for name, sel, sub in v.by_codec(vsel):
                mode = _BLOCK_MODES[name]
                mn[sel] = blocks.select_flat(
                    *sub.block_args, np.zeros(sel.size, np.int64), mode)
                mx[sel] = blocks.select_flat(
                    *sub.block_args, sub.n_tok - 1, mode)
            take = pa.array(vsel, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(take),
                 batch.column(1).take(take).cast(pa.int32()),
                 pa.array(v.n_tok[vsel].astype(np.int32)),
                 pa.array(mn[vsel].view(np.int32)),
                 pa.array(mx[vsel].view(np.int32))],
                names=["doc_id", "seg_id", "n_tok", "min_tok", "max_tok"])

    return src.mapInArrow(
        fn, schema="doc_id string, seg_id int, n_tok int, "
                   "min_tok int, max_tok int")


def intersect_encoded(df_pairs: DataFrame, key_cols: list[str]
                      ) -> DataFrame:
    """Compressed-domain sorted-set intersection over PAIRED encoded rows
    — the inverted-index SvS query the reference's packed search/select
    symbols serve (simdsearchd1's init zone map,
    /root/reference/src/simdpackedsearch.c, applied list-vs-list without
    decompressing the large side).

    ``df_pairs`` carries, per row, two d1-encoded SORTED lists as
    ``a_n_tok, a_codec, a_widths, a_inits, a_payload`` and the ``b_``
    quintuple (build it with a join; broadcast the probe side — side A
    is decoded fully, side B only where its per-block zone envelopes
    admit an A value), plus any ``key_cols`` to pass through.  Returns
    key_cols + ``common`` (array<int>, ascending) + ``n_common``.
    Non-d1 rows raise in-plan: the zone math is sound only for the d1
    family's chain inits (re-encode with codec='d1' first)."""
    sides = [f"{s}_{c}" for s in ("a", "b")
             for c in ("n_tok", "codec", "widths", "inits", "payload")]
    src = df_pairs.select(*key_cols, *sides)
    nk = len(key_cols)
    key_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in src.schema.fields[:nk])

    def fn(it):
        for batch in it:
            a, b = _EncodedBatch(batch, nk), _EncodedBatch(batch, nk + 5)
            bad = set(a.names) | set(b.names)
            bad.discard("d1")
            if bad:
                raise ValueError(
                    f"intersect_encoded: d1-only (sorted zone maps); got "
                    f"codec(s) {sorted(bad)} — re-encode with codec='d1'")
            out_flat, out_lens = blocks.intersect_sorted_flat(
                *a.block_args, *b.block_args)
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(i) for i in range(nk)),
                 _list_from_flat(out_flat.view(np.int32), out_lens),
                 pa.array(out_lens.astype(np.int32))],
                names=[*key_cols, "common", "n_common"])

    return src.mapInArrow(
        fn, schema=f"{key_schema}, common array<int>, n_common int")


def _strong_content_hash(cand: DataFrame) -> DataFrame:
    """Decode candidate rows and stamp a CRYPTOGRAPHIC per-row content hash
    (sha256 over the raw little-endian int32 token bytes).

    Verification arm of :func:`encoded_dedup`: runs only on members of
    multi-doc fast-hash groups, so the per-row hashlib call (the one
    non-vectorized step — OpenSSL sha256, ~1.5 GB/s/core) is bounded by
    the duplicate-candidate count, not the table size.  Returns
    (seq_hash, doc_id, strong_hash binary)."""
    import hashlib

    cols = ["seq_hash", "doc_id", "n_tok", "codec", "widths", "inits",
            "payload"]
    src = cand.select(*cols)

    def fn(it):
        for batch in it:
            flat, lens = _EncodedBatch(batch, 2).decode()
            mv = memoryview(flat.astype("<u4", copy=False).tobytes())
            offs = (np.cumsum(lens) * 4).tolist()
            digs = [hashlib.sha256(mv[a:b]).digest()
                    for a, b in zip([0] + offs[:-1], offs)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 pa.array(digs, type=pa.binary())],
                names=["seq_hash", "doc_id", "strong_hash"])

    return src.mapInArrow(
        fn, schema="seq_hash string, doc_id string, strong_hash binary")


def encoded_dedup(df_encoded: DataFrame, verify: bool = True) -> DataFrame:
    """Exact duplicate detection WITHOUT decoding the full table.

    Primary path: group on the ``content_hash`` column the encoder stamps
    on every row — a 128-bit hash of the RAW token stream computed in-UDF
    at encode time (kernels.content_hash_flat), so it is CODEC-INVARIANT:
    two identical docs hash equal even when ``codec='auto'`` picked
    different codecs (or different block layouts) for their partitions.
    At 100 TB this shuffles 16 bytes + doc_id per row — far below even the
    compressed token bytes.

    ``verify=True`` (default) guards against ADVERSARIAL collisions: the
    stamped hash is a fast polynomial hash — 128-bit and statistically
    sound, but linearly malleable, so on untrusted web data an attacker
    could forge a document that hash-collides with a target.  Equality
    inside every multi-doc hash group is therefore CONFIRMED on the
    decoded tokens (sha256 over the raw little-endian token bytes).  Only
    CANDIDATE rows (members of hash groups with ≥2 docs) are decoded;
    singleton groups — the overwhelming majority at web scale — never
    leave the 16-bytes-per-row fast path.  ``verify=False`` skips the
    confirm pass (one narrow scan total) and is safe only when the input
    is not adversarial.

    NULL content_hash (legacy rows unioned in via allowMissingColumns)
    would collapse into one fake duplicate group; the guard is folded into
    the grouping expression itself (``raise_error`` inside the single
    aggregation scan), so validation adds no extra job.

    Fallback (tables encoded before content_hash existed): hash the
    compressed representation, which is a per-row bijection only for a
    FIXED codec — enforced by raising when the table mixes codecs (the old
    silent false-negative mode).  Returns one row per distinct token
    sequence: (seq_hash string, n_docs, first_doc); the seq_hash value is
    a unique group label (verified groups carry a ``:<sha256>`` suffix),
    not a stable cross-run identifier."""
    if "content_hash" in df_encoded.columns:
        guarded = F.when(
            F.col("content_hash").isNull(),
            F.raise_error(F.lit(
                "encoded_dedup: content_hash contains NULLs (legacy rows "
                "unioned into a hash-stamped table?) — grouping would "
                "collapse them into one fake duplicate group. Re-encode "
                "the legacy rows to stamp content_hash."))
        ).otherwise(F.col("content_hash"))
        hashed = df_encoded.withColumn("seq_hash", F.hex(guarded))
        fast = (hashed.select("seq_hash", "doc_id")
                .groupBy("seq_hash")
                .agg(F.count("*").alias("n_docs"),
                     F.min("doc_id").alias("first_doc")))
        if not verify:
            return fast
        singles = fast.where(F.col("n_docs") == 1)
        dup_hashes = fast.where(F.col("n_docs") >= 2).select("seq_hash")
        cand = hashed.join(dup_hashes, "seq_hash", "leftsemi")
        verified = (_strong_content_hash(cand)
                    .groupBy("seq_hash", "strong_hash")
                    .agg(F.count("*").alias("n_docs"),
                         F.min("doc_id").alias("first_doc"))
                    .select(F.concat_ws(":", "seq_hash",
                                        F.hex("strong_hash")
                                        ).alias("seq_hash"),
                            "n_docs", "first_doc"))
        return singles.unionByName(verified)
    codecs_present = [r["codec"] for r in
                      df_encoded.select("codec").distinct().collect()]
    if len(codecs_present) > 1:
        raise ValueError(
            "encoded_dedup on a legacy table (no content_hash column) "
            f"requires a single fixed codec, found {sorted(codecs_present)}: "
            "identical docs encoded by different codecs would hash apart "
            "(silent false negatives). Re-encode to get content_hash.")
    h = F.sha2(F.concat(F.col("codec").cast("binary"),
                        F.col("n_tok").cast("string").cast("binary"),
                        F.col("widths"), F.col("inits"), F.col("payload")), 256)
    return (df_encoded.select(h.alias("seq_hash"), "doc_id")
            .groupBy("seq_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


def _doc_signature(rows: DataFrame, hash_col: str) -> DataFrame:
    """(doc_id, sig): a per-DOCUMENT identity from per-segment content
    hashes — sha256 over the sorted ``seg_id:hash`` list, so a document
    split into segments (split_long_rows) compares as a whole and
    segment count/order differences cannot collide."""
    return rows.groupBy("doc_id").agg(
        F.sha2(F.concat_ws(",", F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("seg_id").cast("string"),
                        F.col(hash_col))))), 256).alias("sig"))


def dedup_delete_iceberg(spark: SparkSession, table_dir: str,
                         verify: bool = True) -> dict | None:
    """Drop exact-duplicate DOCUMENTS from an encoded Iceberg table IN
    PLACE via v2 position-delete files — the 100 TB shape of 'dedup the
    corpus': no data file is rewritten, the commit is coordinates only
    (iceberg.write_position_deletes), and the keeper per duplicate group
    is the minimum doc_id (deterministic).

    Duplicate detection is :func:`encoded_dedup`'s compressed-domain
    machinery lifted to document granularity: group on the per-segment
    ``content_hash`` the encoder stamps (16 bytes/row shuffled, no
    decode), fold segments into a per-doc signature, and — with
    ``verify=True`` (default) — CONFIRM candidate groups on a sha256 of
    the decoded tokens before anything is deleted, so an adversarial
    collision against the fast polynomial hash cannot delete an innocent
    document.  Candidates only are decoded; at web scale that is the
    duplicate fraction, not the table.

    Returns the new table metadata, or None when the table has no
    duplicate documents (no commit).  Reference analog: this is the
    deletion-side complement of simdcomp-style immutable packed columns
    (reference/README.md — codecs never update in place); row removal
    happens in table metadata, never in payload bytes."""
    from . import iceberg
    enc = iceberg.read_table_with_pos(spark, table_dir)
    if "content_hash" not in enc.columns:
        raise ValueError(
            f"{table_dir} has no content_hash column (pre-hash legacy "
            "encode?) — dedup_delete_iceberg needs the stamped hash; "
            "re-encode the table")
    guarded = F.when(
        F.col("content_hash").isNull(),
        F.raise_error(F.lit(
            "dedup_delete_iceberg: content_hash contains NULLs — "
            "re-encode the legacy rows before deleting on hash equality"))
    ).otherwise(F.col("content_hash"))
    rows = enc.select("doc_id", "seg_id", F.hex(guarded).alias("h"),
                      "_file", "_pos")
    # sig is tiny (one row per doc) but its lineage is the full table
    # scan + delete anti-joins; it feeds groups AND the candidate join —
    # persist so that scan runs once, not per consumer
    sig = _doc_signature(rows, "h").persist()
    groups = sig.groupBy("sig").agg(F.min("doc_id").alias("keep"),
                                    F.count("*").alias("n_docs"))
    dup_groups = groups.where(F.col("n_docs") >= 2)
    if verify:
        # decode ONLY candidate docs and re-derive the signature from a
        # cryptographic per-segment hash; losers come from the strong
        # signature, so fast-hash forgeries cannot merge distinct docs
        cand = (sig.join(dup_groups.select("sig"), "sig", "leftsemi")
                .select("doc_id"))
        cand_rows = (enc.join(cand, "doc_id", "leftsemi")
                     .withColumn("seq_hash",
                                 F.col("seg_id").cast("string")))
        strong = _strong_content_hash(cand_rows)  # seq_hash carries seg_id
        ssig = _doc_signature(
            strong.select("doc_id",
                          F.col("seq_hash").cast("int").alias("seg_id"),
                          F.hex("strong_hash").alias("h")), "h")
        sgroups = ssig.groupBy("sig").agg(F.min("doc_id").alias("keep"),
                                          F.count("*").alias("n_docs"))
        losers = (ssig.join(sgroups.where(F.col("n_docs") >= 2), "sig")
                  .where(F.col("doc_id") != F.col("keep"))
                  .select("doc_id"))
    else:
        losers = (sig.join(dup_groups, "sig")
                  .where(F.col("doc_id") != F.col("keep"))
                  .select("doc_id"))
    # losers' lineage includes the candidate decode + sha256 pipeline;
    # the coordinate join below must not re-run it
    losers = losers.persist()
    pos = (enc.join(losers, "doc_id", "leftsemi")
           .select(F.col("_file").alias("file_path"),
                   F.col("_pos").alias("pos")))
    try:
        return iceberg.write_position_deletes(
            spark, table_dir, pos,
            extra_summary={"simdcomp-dedup-delete":
                           "exact-doc" + ("-verified" if verify else "")})
    finally:
        losers.unpersist()
        sig.unpersist()


# ---------------------------------------------------------------------------
# verification + metrics (declarative)
# ---------------------------------------------------------------------------

def verify_roundtrip(original: DataFrame, decoded: DataFrame) -> int:
    """Number of rows whose decoded tokens differ (0 = bit-identical)."""
    o = original.select("doc_id", F.col("tokens").alias("t0"))
    d = decoded.select("doc_id", F.col("tokens").alias("t1"))
    return (o.join(d, "doc_id", "full_outer")
            .where(~F.coalesce(F.col("t0") == F.col("t1"), F.lit(False)))
            .count())


def partition_metrics(df_encoded: DataFrame) -> DataFrame:
    """Per-partition codec-choice / bits-per-token / throughput metrics
    (north rule) as a queryable DataFrame."""
    return (
        df_encoded.groupBy("pid", "codec")
        .agg(F.count("*").alias("rows"),
             F.sum("n_tok").alias("tokens"),
             F.sum(F.length("payload")).alias("payload_bytes"),
             (F.sum(F.length("widths")) + F.sum(F.length("inits"))
              ).alias("meta_bytes"),
             F.max("enc_ns").alias("enc_ns"))
        .withColumn("bits_per_token",
                    (F.col("payload_bytes") + F.col("meta_bytes")) * 8.0
                    / F.col("tokens"))
        .withColumn("tokens_per_sec",
                    F.col("tokens") / (F.col("enc_ns") / 1e9))
    )
