"""Per-layer metrics for the traced run.

Every number is taken from outside the program: by timing the
benchmark's own calls into each module's public functions, from the
spans recorded around the measured rounds, or from the counts the
engine already writes into the manifest (``encode_ms``, ``col_stats``).
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .queries import DOORS, SHAPES, VIEW, Query, sql_text, utc
from .spans import self_times
from .workloads import CHUNK_ROWS, manifest_table

CODEC_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
# spans whose self time is reported; a read's span is covered by its
# plan and collect children, so the children are reported instead
SELF_SPANS = ("round", "engine.encode_table", "datasource.sink",
              "engine.decode_table", "reference.parquet_write",
              "plan.sqlfront", "plan.decode_table", "spark.collect",
              "datasource.append", "oracle")

med = statistics.median


def _ms(fn, reps: int = 3) -> float:
    """Median wall of ``reps`` calls, in ms."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return 1e3 * med(walls)


def _noop(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pydict({"n": [n]})


def _floor_s(df) -> float:
    """No-op ``mapInArrow`` over ``df``: the scan, exchange and Arrow
    boundary cost with no codec work; median of two."""
    return 1e-3 * _ms(lambda: df.mapInArrow(_noop, "n long").count(), 2)


# -- write side -------------------------------------------------------------


def floors(wl) -> dict:
    from dumpster.pipeline import prep_for_encode, prep_for_encode_local
    df = wl.inputs.base_df
    scan = _floor_s(df)
    exchange = _floor_s(prep_for_encode(df, "url", wl.n_buckets))
    local = _floor_s(prep_for_encode_local(df, "url"))
    enc = med(w for _, w, _ in wl.rec.encode)
    sink = med(w for _, w, _ in wl.rec.sink)
    return {
        "engine.scan_floor_s": scan,
        "pipeline.exchange_floor_s": exchange,
        "pipeline.local_sort_floor_s": local,
        "engine.encode_above_floor_s": enc - exchange,
        "datasource.sink_above_floor_s": sink - local,
    }


def manifest_counts(encode_dir: str) -> dict:
    man = manifest_table(encode_dir)
    emit = man.column("encode_ms").to_pylist()
    stats = [json.loads(cs) for cs in man.column("col_stats").to_pylist()]
    out = {
        "engine.chunks_written": len(emit),
        "engine.fallback_chunks": sum(
            any(c.get("fallback") for c in chunk) for chunk in stats),
        "engine.chunk_emit_ms_p50": med(emit),
        "engine.chunk_emit_ms_sum": sum(emit),
    }
    for col in CODEC_COLUMNS:
        cs = [c for chunk in stats for c in chunk if c["column"] == col]
        raw = sum(c["raw_bytes"] for c in cs)
        out[f"codecs.{col}.stored_ratio"] = \
            sum(c["encoded_bytes"] for c in cs) / max(raw, 1)
        out[f"codecs.{col}.nonplain_share"] = \
            sum(c["codec"] != "plain" for c in cs) / max(len(cs), 1)
    return out


def _chunk_batches(tbl: pa.Table, n: int = 2) -> list[pa.RecordBatch]:
    return [tbl.slice(i * CHUNK_ROWS, CHUNK_ROWS).combine_chunks()
            .to_batches()[0] for i in range(n)
            if i * CHUNK_ROWS < tbl.num_rows]


def chunk_and_fs(wl) -> dict:
    """The chunk container and the file put, on chunk-sized batches of
    the workload input, in this one thread."""
    from dumpster.chunk import decode_chunk, decode_chunk_file, \
        encode_chunk_pieces
    from dumpster.fs import RenameFS, file_lock
    enc, dec, dec_file, put, share = [], [], [], [], []
    fs = RenameFS()
    for k, batch in enumerate(_chunk_batches(wl.inputs.base_tbl)):
        pieces = []

        def encode():
            pieces[:] = encode_chunk_pieces(batch, table_id="bench",
                                            bucket=0, chunk_seq=k)[0]
        enc.append(_ms(encode))
        blob = b"".join(bytes(p) for p in pieces)
        path = os.path.join(wl.workdir, f"probe-{k}.dmp")
        put.append(_ms(lambda: fs.put(path, pieces)) / (len(blob) / 1e6))
        dec.append(_ms(lambda: decode_chunk(blob)))
        dec_file.append(_ms(lambda: decode_chunk_file(path)))
        got = []
        decode_chunk_file(path, columns=["lang"], bytes_read=got)
        share.append(sum(got) / len(blob))
    lock = os.path.join(wl.workdir, "probe.lock")

    def take_lock():
        with file_lock(lock):
            pass
    return {
        "chunk.encode_ms": med(enc),
        "chunk.decode_ms": med(dec),
        "chunk.decode_file_ms": med(dec_file),
        "chunk.ranged_bytes_share": med(share),
        "fs.put_ms_per_mb": med(put),
        "fs.lock_ms": _ms(take_lock, 20),
    }


def _var_parts(arr: pa.Array):
    """(data, offsets) over the valid rows of a string/binary column."""
    dense = pc.drop_null(arr).cast(pa.large_binary())
    bufs = dense.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64, count=len(dense) + 1,
                         offset=dense.offset * 8)
    data = memoryview(bufs[2])[int(offs[0]):int(offs[-1])] \
        if bufs[2] is not None else memoryview(b"")
    return data, offs - offs[0]


def codecs(wl) -> dict:
    """Per column: the selector (sampling, winner encode and the zstd
    stage), the winner's public encoder alone, and the decode."""
    from dumpster.codecs import (decode_fixed, decode_var,
                                 select_encode_fixed, select_encode_var,
                                 stable_seed)
    # the selector's own codec-id → public encoder tables
    from dumpster.codecs.selector import _ENC_FIXED as fixed
    from dumpster.codecs.selector import _ENC_VAR as var
    batch = _chunk_batches(wl.inputs.base_tbl, 1)[0]
    out = {}
    for col in CODEC_COLUMNS:
        arr = batch.column(col)
        if pa.types.is_timestamp(arr.type):
            args = (pc.drop_null(arr).cast(pa.int64()).to_numpy(),)
            n = len(args[0])
            select, encoders, decode = select_encode_fixed, fixed, decode_fixed
        else:
            args = _var_parts(arr)
            n = len(args[1]) - 1
            select, encoders, decode = select_encode_var, var, decode_var
        seed = stable_seed("bench", 0, 0, col)
        codec, zl, payload, meta, _ = select(*args, seed)
        out[f"codecs.{col}.select_encode_ms"] = _ms(
            lambda: select(*args, seed))
        out[f"codecs.{col}.winner_encode_ms"] = _ms(
            lambda: encoders[codec](*args))
        out[f"codecs.{col}.decode_ms"] = _ms(
            lambda: decode(codec, zl, payload, meta, n))
    return out


# -- read side --------------------------------------------------------------


def _filters(q: Query):
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                        LessThan, StringStartsWith)
    if q.shape == "url_eq":
        return [EqualTo(("url",), q.arg[0])]
    if q.shape == "host_prefix":
        return [StringStartsWith(("url",), q.arg[0])]
    if q.shape == "ts_range":
        lo, hi = (utc(v) for v in q.arg)
        return [GreaterThanOrEqual(("warc_ts",), lo),
                LessThan(("warc_ts",), hi)]
    return []


def _matches(fp: str, q: Query) -> bool:
    """Does chunk file ``fp`` hold at least one row ``q`` selects?"""
    from dumpster.chunk import decode_chunk_file
    if q.shape == "lang_agg":
        return True
    col = "warc_ts" if q.shape == "ts_range" else "url"
    arr = decode_chunk_file(fp, columns=[col]).column(0)
    if q.shape == "url_eq":
        hit = pc.equal(arr, q.arg[0])
    elif q.shape == "host_prefix":
        hit = pc.starts_with(arr, q.arg[0])
    else:
        ts = arr.cast(pa.int64())
        hit = pc.and_(pc.greater_equal(ts, q.arg[0]), pc.less(ts, q.arg[1]))
    return bool(pc.any(hit).as_py())


def reads(wl) -> dict:
    """Planning, pruning and the bloom gate over the served store, one
    query of each shape, called in this process."""
    from dumpster.bloom import bloom_rejects_file
    from dumpster.datasource import DumpsterReader
    from dumpster.engine import read_manifest, table_schema
    from dumpster.sqlfront import required_view_columns
    spark, store = wl.spark, wl.store
    schema = table_schema(store)
    files = manifest_table(store).column("file").to_pylist()
    queries = [wl.mix.make(shape, DOORS[0]) for shape in SHAPES]
    plan, analyze = [], []
    considered = kept = useful = 0
    for q in queries:
        parts = []

        def planning():
            reader = DumpsterReader({"path": store}, schema)
            list(reader.pushFilters(_filters(q)))
            parts[:] = reader.partitions()
        plan.append(_ms(planning))
        kept_files = [f for p in parts for f in p.files]
        considered += len(files)
        kept += len(kept_files)
        useful += sum(_matches(f, q) for f in kept_files)
        analyze.append(_ms(lambda: required_view_columns(
            spark, sql_text(q), {VIEW})))
    probes = [wl.mix.make("url_eq", DOORS[0]).arg[0] for _ in range(4)]
    rejects = sum(bloom_rejects_file(f, [("url", (u.encode(),))])
                  for u in probes for f in files)
    out = {
        "engine.read_manifest_ms": _ms(
            lambda: read_manifest(spark, store).count()),
        "datasource.plan_ms": med(plan),
        "datasource.chunks_considered": considered / len(queries),
        "datasource.chunks_kept": kept / len(queries),
        "datasource.kept_useful_ratio": useful / max(kept, 1),
        "bloom.reject_ratio": rejects / (len(probes) * len(files)),
        "sqlfront.analyze_ms": med(analyze),
        "datasource.append_chunks": med(wl.rec.append_chunks),
    }
    for shape in SHAPES:
        out[f"read.{shape}_ms"] = 1e3 * med(
            w for s, _, w in wl.rec.reads if s == shape)
    return out


# -- spans ------------------------------------------------------------------


def span_metrics(wl) -> dict:
    """Self time per traced round of each layer span, the tracing
    overhead (traced minus untraced round wall, medians) and the span
    count."""
    spans = wl.tracer.spans
    traced = [w for t, w in wl.rec.rounds if t]
    plain = [w for t, w in wl.rec.rounds if not t]
    own = self_times(spans)
    out = {f"self.{name}_s": own.get(name, 0.0) / max(len(traced), 1)
           for name in SELF_SPANS}
    out["trace.overhead_ms"] = 1e3 * (med(traced) - med(plain))
    out["trace.spans"] = len(spans)
    return out


def per_layer(wl, setup: dict) -> dict:
    out = dict(setup)
    for probe in (floors, chunk_and_fs, codecs, reads, span_metrics):
        out.update(probe(wl))
    out.update(manifest_counts(wl.last_encode))
    return out


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms_per_mb", "ms/MB"), ("_ms_p50", "ms"),
                         ("_ms_sum", "ms"), ("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"

