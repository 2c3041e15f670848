"""The workloads: set-up, then a closed loop of rounds in one process,
with every output checked.

Both workloads run the same operations over the same schema and row
count; only ``html`` differs (F1's incompressible pages, or pages filled
from per-host templates).  Set-up's warm-up cycle writes the served
store through the sink.  Each round then

* runs the bulk cycle over the whole input: ``engine.encode_table``, the
  host-grouped ``df.write`` sink, a full ``engine.decode_table`` checked
  against the input's digest, and the reference Parquet write before
  and after them, in the same window;
* reads every query shape once from the served store, the front doors
  alternating from shape to shape and from round to round (two rounds
  send every shape through both), each answer checked against duckdb;
* after every second read, appends one small batch to the served store
  through the sink, so the manifest grows and every later read plans
  against it again.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.dataset as ds

from .queries import DOORS, SHAPES, VIEW, Oracle, QueryMix, normalize, \
    query_df
from .spans import Tracer

CHUNK_ROWS = 8192
STORE_CHUNK_ROWS = 4096


@dataclass(frozen=True)
class Spec:
    name: str
    why: str
    templated: bool
    rows: int = 16_000
    append_rows: int = 500
    pool_batches: int = 8


SPECS = {s.name: s for s in (
    Spec("f1_bulk", "FIXTURES F1 pages: incompressible html, so the "
         "byte-moving layers do most of the bulk work", templated=False),
    Spec("templated_bulk", "html filled from per-host templates, so codec "
         "selection, encode, zstd and decode do most of the bulk work",
         templated=True),
)}


def manifest_table(store: str):
    files = sorted(glob.glob(os.path.join(store, "manifest", "b*.parquet")))
    return ds.dataset(files, format="parquet").to_table() if files else None


def reference_write(df, path: str) -> None:
    """The reference sink's Parquet settings: Snappy + dictionary, 256 MiB
    row groups, 64 KiB pages."""
    (df.write.mode("overwrite").option("compression", "snappy")
     .option("parquet.enable.dictionary", "true")
     .option("parquet.block.size", str(256 << 20))
     .option("parquet.page.size", str(64 << 10)).parquet(path))


def _rows(manifest) -> int:
    return 0 if manifest is None else pc.sum(manifest.column("n_rows")).as_py()


def dir_bytes(path: str, pattern: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(path, "**", pattern), recursive=True))


@dataclass
class Record:
    """Everything one run measured, before it is reduced to metrics."""
    # (logical MB, wall s, same-cycle reference Parquet write wall s)
    encode: list = field(default_factory=list)
    sink: list = field(default_factory=list)
    decode: list = field(default_factory=list)   # (logical MB, wall s)
    size_ratio: list = field(default_factory=list)
    reads: list = field(default_factory=list)    # (shape, door, wall s)
    appends: list = field(default_factory=list)  # wall s
    append_chunks: list = field(default_factory=list)
    rounds: list = field(default_factory=list)   # (traced, wall s)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)


class Workload:
    def __init__(self, spark, spec: Spec, inputs, workdir: str, seed: int,
                 tracer: Tracer):
        self.spark, self.spec, self.inputs = spark, spec, inputs
        self.workdir, self.tracer = workdir, tracer
        self.mix = QueryMix(inputs.base_tbl, seed)
        self.oracle = Oracle(inputs.base_tbl)
        self.rec = Record()
        # two encode tasks per core (pipeline.default_encode_partitions)
        self.n_buckets = 2 * spark.sparkContext.defaultParallelism
        self.store: str | None = None      # the store reads are served from
        self.last_encode: str | None = None
        self._seq = 0
        self._batch = 0

    # -- helpers ------------------------------------------------------------

    def _dir(self, tag: str) -> str:
        self._seq += 1
        return os.path.join(self.workdir, f"{tag}-{self._seq:04d}")

    def _fail(self, what: str, err) -> None:
        self.rec.failed += 1
        detail = err if isinstance(err, str) else "".join(
            traceback.format_exception_only(type(err), err)).strip()
        self.rec.errors.append(f"{what}: {detail}")
        print(f"FAILED {what}: {detail}", flush=True)

    def _timed(self, what: str, span: str, fn):
        """Run ``fn`` as one attempted operation; → (result, wall) or
        (None, None) when it raised."""
        self.rec.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception as e:     # a failed operation is counted, not fatal
            self._fail(what, e)
            return None, None
        return out, time.perf_counter() - t0

    def _check(self, what: str, got, want) -> None:
        with self.tracer.span("verify"):
            if got != want:
                self._fail(what, f"got {got!r:.300} want {want!r:.300}")

    # -- operations ---------------------------------------------------------

    def _reference(self, tag: str):
        """One reference Parquet write of the whole input; → (wall, bytes
        written) or (None, None) when it raised."""
        ref = self._dir("ref")
        _, wall = self._timed(
            f"{tag} reference parquet", "reference.parquet_write",
            lambda: reference_write(self.inputs.base_df, ref))
        size = None if wall is None else dir_bytes(ref, "*.parquet")
        shutil.rmtree(ref, ignore_errors=True)
        return wall, size

    def bulk_cycle(self, tag: str) -> str | None:
        """encode_table, the host-grouped sink and a full decode checked
        against the input's digest, all over the whole input, between two
        reference Parquet writes whose mean wall is the cycle's reference.
        Returns the sink's store, or None."""
        from dumpster.engine import decode_table, encode_table
        from dumpster.pipeline import prep_for_encode_local
        from .inputs import digest_of
        spark, r, inp = self.spark, self.rec, self.inputs
        df, mb = inp.base_df, inp.base_mb
        refs = [self._reference(tag)]
        enc = self._dir("enc")
        _, w_enc = self._timed(
            f"{tag} encode_table", "engine.encode_table",
            lambda: encode_table(df, enc, url_col="url",
                                 n_buckets=self.n_buckets,
                                 chunk_rows=CHUNK_ROWS, table_id="bench"))
        sink = self._dir("sink")
        _, w_sink = self._timed(
            f"{tag} sink", "datasource.sink",
            lambda: (prep_for_encode_local(df, "url").write
                     .format("dumpster").option("bucket_col", "__bucket")
                     .option("chunk_rows", str(STORE_CHUNK_ROWS))
                     .option("table_id", "bench_store")
                     .mode("append").save(sink)))
        got, w_dec = (None, None)
        if w_enc is not None:
            got, w_dec = self._timed(
                f"{tag} full decode", "engine.decode_table",
                lambda: digest_of(decode_table(spark, enc)))
            if w_dec is not None:
                self._check(f"{tag} full decode digest", got,
                            inp.base_digest)
        refs.append(self._reference(tag))
        if w_enc is not None and None not in (w for w, _ in refs):
            w_ref = statistics.mean(w for w, _ in refs)
            man = manifest_table(enc)
            enc_bytes = sum(man.column("encoded_bytes").to_pylist())
            r.size_ratio.append(enc_bytes / refs[-1][1])
            r.encode.append((mb, w_enc, w_ref))
            if w_sink is not None:
                r.sink.append((mb, w_sink, w_ref))
        if w_dec is not None:
            r.decode.append((mb, w_dec))
        if self.last_encode:
            shutil.rmtree(self.last_encode, ignore_errors=True)
        self.last_encode = enc
        if w_sink is None:
            shutil.rmtree(sink, ignore_errors=True)
            return None
        return sink

    def read(self, q, tag: str) -> None:
        def run():
            with self.tracer.span(f"plan.{q.door}"):
                df = query_df(self.spark, self.store, q)
            with self.tracer.span("spark.collect"):
                return normalize(df.collect())
        what = f"{tag} read {q.describe()}"
        got, wall = self._timed(what, f"read.{q.door}", run)
        if wall is None:
            return
        self.rec.reads.append((q.shape, q.door, wall))
        with self.tracer.span("oracle"):
            want = self.oracle.expected(q)
        self._check(what, got, want)

    def append(self, tag: str) -> None:
        """Append the next pool batch to the served store through the sink
        (default partition-id bucketing); later reads see its rows."""
        i = self._batch % len(self.inputs.batches)
        self._batch += 1
        df = self.inputs.batch_df(i)
        before = manifest_table(self.store)
        what = f"{tag} append batch {i}"
        _, wall = self._timed(
            what, "datasource.append",
            lambda: (df.write.format("dumpster")
                     .option("chunk_rows", str(STORE_CHUNK_ROWS))
                     .option("table_id", "bench_store")
                     .mode("append").save(self.store)))
        if wall is None:
            return
        after = manifest_table(self.store)
        self._check(f"{what} manifest rows", _rows(after),
                    _rows(before) + self.inputs.batches[i].num_rows)
        self.rec.appends.append(wall)
        self.rec.append_chunks.append(
            after.num_rows - (0 if before is None else before.num_rows))
        self.oracle.add(self.inputs.batches[i])

    def register(self) -> None:
        from dumpster.engine import register_decoded_view
        self._timed("register view", "engine.register_decoded_view",
                    lambda: register_decoded_view(self.spark, self.store,
                                                  VIEW, pushdown=True))

    # -- set-up and rounds --------------------------------------------------

    def warm_up(self) -> None:
        """One bulk cycle, whose sink output becomes the served store;
        every query shape once, the front doors alternating; one append.
        Warm-up's operations are checked and counted like any other, but
        their walls are not measured."""
        self.store = self.bulk_cycle("warm-up")
        self.register()
        for k, shape in enumerate(SHAPES):
            self.read(self.mix.make(shape, DOORS[k % 2]), "warm-up")
        self.append("warm-up")
        r = self.rec
        self.rec = Record(attempted=r.attempted, failed=r.failed,
                          errors=r.errors)

    def run_round(self, r: int) -> None:
        tag = f"round {r}"
        sink = self.bulk_cycle(tag)
        if sink:
            shutil.rmtree(sink, ignore_errors=True)
        for k, shape in enumerate(SHAPES):
            self.read(self.mix.make(shape, DOORS[(r + k) % 2]), tag)
            if k % 2:
                self.append(tag)

    def loop(self, seconds: float, trace: bool) -> None:
        """Rounds for about ``seconds``: a round starts only if, at the
        median round wall so far, it ends less than half a round past the
        deadline.  At least two rounds run, so every shape goes through
        both doors; a traced run runs at least three and traces the odd
        rounds, so traced and untraced rounds hold the same mix and their
        walls compare."""
        deadline = time.perf_counter() + seconds
        least = 3 if trace else 2
        walls: list[float] = []
        while len(walls) < least or (time.perf_counter()
                                     + 0.5 * statistics.median(walls)
                                     < deadline):
            r = len(walls)
            traced = trace and r % 2 == 1
            self.tracer.enabled = traced
            self.tracer.iteration = r
            t0 = time.perf_counter()
            with self.tracer.span("round"):
                self.run_round(r)
            walls.append(time.perf_counter() - t0)
            self.rec.rounds.append((traced, walls[-1]))
        self.tracer.enabled = False

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        r = self.rec
        med = statistics.median

        def rate(ops):
            return med(op[0] / op[1] for op in ops)

        def vs_ref(ops):
            # each cycle's write and reference write share a window; the
            # sums weigh every cycle by its length
            return sum(op[1] for op in ops) / sum(op[2] for op in ops)

        reads = sorted(w for _, _, w in r.reads)
        return {
            "encode_mb_s": rate(r.encode),
            "sink_mb_s": rate(r.sink),
            "decode_mb_s": rate(r.decode),
            "encode_x_parquet": vs_ref(r.encode),
            "sink_x_parquet": vs_ref(r.sink),
            "size_x_parquet": med(r.size_ratio),
            "read_p50_ms": 1e3 * med(reads),
            "read_p90_ms": 1e3 * statistics.quantiles(
                reads, n=10, method="inclusive")[-1],
            "append_p50_ms": 1e3 * med(r.appends),
        }

    def close(self) -> None:
        self.oracle.close()
