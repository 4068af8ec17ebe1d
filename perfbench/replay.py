"""Spark-free traced replay of a workload's inputs, in one process.

The replay calls the same public layer functions the Spark tasks call, on
the same inputs, and wraps each call in a span (name, start, end, parent,
op id). The wrappers are installed by patching module attributes for the
duration of one pass and removed afterwards; no program file changes.
Spans are held in memory and written out by the caller at exit.

A layer's self time is its spans' duration minus the part covered by their
child spans, so the self times of all layers plus the replay's own glue add
up to the replay's wall. Every decoded batch is compared exactly
(``RecordBatch.equals``) with the input rows it came from, after the timed
pass.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.workloads import LOOKUPS_PER_CYCLE, CheckFailed, Inputs, doc_id, orc_bytes

ROOT_SPAN = "replay"


class Tracer:
    def __init__(self):
        # (name, start, end, parent index or -1, op id)
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: Counter = Counter()
        self.op = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, 0.0, 0.0, parent, self.op))
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[idx] = (name, t0, time.perf_counter(), parent, self.op)
            self._stack.pop()

    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(args, result)`` updates counters."""

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        return traced

    def wall(self) -> float:
        root = next(s for s in self.spans if s[3] == -1)
        return root[2] - root[1]

    def self_times(self) -> dict[str, float]:
        covered = [0.0] * len(self.spans)
        for _name, t0, t1, parent, _op in self.spans:
            if parent >= 0:
                covered[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for (name, t0, t1, _p, _op), c in zip(self.spans, covered):
            out[name] += t1 - t0 - c
        return out

    def records(self) -> list[dict]:
        base = self.spans[0][1] if self.spans else 0.0
        return [{"name": n, "start": t0 - base, "end": t1 - base, "parent": p, "op": op}
                for n, t0, t1, p, op in self.spans]


class _Untraced:
    """Stands in for a Tracer in the untraced passes."""

    def __init__(self):
        self.op = 0
        self.counts: Counter = Counter()

    def span(self, name: str):
        return contextlib.nullcontext()


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Install span wrappers around every layer's public functions."""
    import orc_rs_spark.chunk as chunk
    import orc_rs_spark.orcfile.reader as reader
    import orc_rs_spark.orcfile.writer as writer
    from orc_rs_spark.kernels.select import INT_CODECS, STR_CODECS

    c = tracer.counts
    saved = []

    def patch(owner, key, value):
        if isinstance(owner, dict):
            saved.append((owner, key, owner[key]))
            owner[key] = value
        else:
            saved.append((owner, key, getattr(owner, key)))
            setattr(owner, key, value)

    def chosen(kind):
        def after(args, out):
            c[f"select.{kind}_calls"] += 1
            c[f"select.{kind}_codec.{out[0]}"] += 1
        return after

    def compressed(args, out):
        c["blockcomp.compress_calls"] += 1
        c["blockcomp.compress_bytes_in"] += len(args[0])
        c["blockcomp.compress_bytes_out"] += len(out)
        c["blockcomp.compress_kept"] += len(out) < len(args[0])

    def decompressed(args, out):
        c["blockcomp.decompress_bytes_out"] += len(out)

    def stripe_read(args, out):
        c["reader.stripes_read"] += 1

    def materialized(fn):
        # read_stripe_batches is a generator: decode inside the span
        def run(*args, **kwargs):
            return iter(list(fn(*args, **kwargs)))
        return run

    patch(chunk, "encode_ints_auto", tracer.wrap("select.encode_ints_auto",
                                                 chunk.encode_ints_auto, chosen("int")))
    patch(chunk, "encode_strings_auto", tracer.wrap("select.encode_strings_auto",
                                                    chunk.encode_strings_auto, chosen("str")))
    for owner in (chunk, writer):
        patch(owner, "block_compress", tracer.wrap("blockcomp.block_compress",
                                                   owner.block_compress, compressed))
    patch(chunk, "block_decompress", tracer.wrap("blockcomp.block_decompress",
                                                 chunk.block_decompress, decompressed))
    for table, name in ((INT_CODECS, "int_codecs.decode"), (STR_CODECS, "str_codecs.decode")):
        for tag, (enc, dec) in list(table.items()):
            patch(table, tag, (enc, tracer.wrap(name, dec)))
    patch(writer.OrcWriter, "write_batch", tracer.wrap("writer.write_batch",
                                                       writer.OrcWriter.write_batch))
    patch(writer.OrcWriter, "close", tracer.wrap("writer.close", writer.OrcWriter.close))
    patch(reader, "read_tail", tracer.wrap("reader.read_tail", reader.read_tail))
    patch(reader, "read_stripe_statistics",
          tracer.wrap("reader.read_stripe_statistics", reader.read_stripe_statistics))
    patch(reader, "prune_stripes_stats",
          tracer.wrap("lookup.prune_stripes", reader.prune_stripes_stats))
    patch(reader.OrcFileReader, "prune_row_groups",
          tracer.wrap("lookup.prune_row_groups", reader.OrcFileReader.prune_row_groups))
    patch(reader.OrcFileReader, "read_stripe",
          tracer.wrap("reader.read_stripe", reader.OrcFileReader.read_stripe, stripe_read))
    patch(reader.OrcFileReader, "read_stripe_batches",
          tracer.wrap("reader.read_stripe",
                      materialized(reader.OrcFileReader.read_stripe_batches), stripe_read))
    try:
        yield
    finally:
        for owner, key, value in reversed(saved):
            if isinstance(owner, dict):
                owner[key] = value
            else:
                setattr(owner, key, value)


def _input_batch(inputs: Inputs, first: int, n: int, columns=None) -> pa.RecordBatch:
    t = inputs.table.slice(first, n)
    if columns is not None:
        t = t.select(list(columns))
    return t.combine_chunks().to_batches()[0] if n else pa.RecordBatch.from_pylist([], t.schema)


def _same(what: str, got: pa.RecordBatch, want: pa.RecordBatch) -> None:
    if not got.equals(want):
        raise CheckFailed(f"{what}: decoded rows differ from the input rows")


def _orc_files(directory: str) -> list[str]:
    return sorted(glob.glob(os.path.join(directory, "*.orc")))


class WriteReplay:
    """encode_chunk over the chunks the map-side encode makes (each input
    file is one task, split into equal chunks of about CHUNK_ROWS rows), and
    an OrcWriter per input file fed the scan's Arrow batches, as
    write_orc_dir does."""

    def __init__(self, workload):
        from orc_rs_spark.encoder import CHUNK_ROWS

        self.inputs = inputs = workload.inputs
        self.spark_enc_bytes = workload.bytes["mapside"]
        self.pieces = []
        for part, (first, n) in enumerate(inputs.file_bounds):
            k = max(1, round(n / CHUNK_ROWS))
            for i in range(k):
                lo, hi = first + n * i // k, first + n * (i + 1) // k
                self.pieces.append((part, lo, _input_batch(inputs, lo, hi - lo)))
        self.orc_dir = os.path.join(workload.work, "replay_orc")
        self.orc_batches = [inputs.table.slice(first, n).to_batches(max_chunksize=4096)
                            for first, n in inputs.file_bounds]

    def run(self, tracer) -> list:
        import orc_rs_spark.chunk as chunk
        from orc_rs_spark.orcfile import writer

        out = []
        for part, first, batch in self.pieces:
            tracer.op += 1
            with tracer.span("chunk.encode_chunk"):
                row = chunk.encode_chunk(batch, part)
            tracer.counts["chunk.encode_calls"] += 1
            tracer.counts["chunk.bytes_in"] += batch.nbytes
            tracer.counts["chunk.bytes_out"] += row["enc_bytes"]
            out.append((first, row))
        shutil.rmtree(self.orc_dir, ignore_errors=True)
        os.makedirs(self.orc_dir)
        for i, batches in enumerate(self.orc_batches):
            tracer.op += 1
            w = writer.OrcWriter(os.path.join(self.orc_dir, f"part-{i:05d}.orc"),
                                 self.inputs.table.schema)
            for b in batches:
                w.write_batch(b)
            w.close()
        return out

    def check(self, out) -> None:
        from orc_rs_spark.chunk import decode_chunk
        from orc_rs_spark.orcfile.reader import OrcFileReader

        enc = sum(row["enc_bytes"] for _first, row in out)
        if enc != self.spark_enc_bytes:
            raise CheckFailed(f"replayed enc_bytes {enc} != Spark map-side {self.spark_enc_bytes}")
        for first, row in out:
            _same(f"chunk at row {first}", decode_chunk(row),
                  _input_batch(self.inputs, first, row["n_rows"]))
        for (first, n), path in zip(self.inputs.file_bounds, _orc_files(self.orc_dir)):
            _same(f"ORC file at row {first}", OrcFileReader(path).read_all().combine_chunks()
                  .to_batches()[0], _input_batch(self.inputs, first, n))

    def file_counts(self) -> dict:
        """Stripes and bytes of the ORC files the last pass wrote."""
        from orc_rs_spark.orcfile.reader import read_tail

        files = _orc_files(self.orc_dir)
        return {"writer.stripes": sum(len(read_tail(p).footer.stripes) for p in files),
                "writer.bytes_out": orc_bytes(self.orc_dir)}


class ReadReplay:
    """decode_chunk, full and projected to (doc_id, n_tok), over the chunk
    rows Spark wrote in set-up; a full stripe read of the ORC files Spark
    wrote; and the pruned lookups read_orc runs: per file a tail and
    stripe-statistics read and stripe pruning, then per kept stripe
    row-group pruning and a projected read of the kept row groups."""

    PROJECTION = ("doc_id", "n_tok")

    def __init__(self, workload):
        self.inputs = workload.inputs
        self.rows = pq.read_table(workload.chunks_dir).to_pylist()
        self.files = _orc_files(workload.orc_dir)
        self.lookup_rows = [int(r) for r in workload.inputs.lookup_rows[:LOOKUPS_PER_CYCLE]]

    def file_counts(self) -> dict:
        return {}  # writes no files

    def run(self, tracer) -> dict:
        import orc_rs_spark.chunk as chunk
        from orc_rs_spark.orcfile import reader

        c = tracer.counts
        decoded = []
        for row in self.rows:
            for columns in (None, self.PROJECTION):
                tracer.op += 1
                with tracer.span("chunk.decode_chunk"):
                    batch = chunk.decode_chunk(row, columns=columns)
                c["chunk.decode_calls"] += 1
                c["chunk.bytes_in"] += sum(row["stream_lengths"])
                c["chunk.bytes_out"] += batch.nbytes
                decoded.append((row, columns, batch))
        full = []
        for path in self.files:
            tracer.op += 1
            r = reader.OrcFileReader(path)
            full.append([r.read_stripe(i) for i in range(len(r.tail.footer.stripes))])
        found = []
        for row in self.lookup_rows:
            tracer.op += 1
            key = doc_id(row)
            hits = []
            for path in self.files:
                tail = reader.read_tail(path)
                stats = reader.read_stripe_statistics(path, tail)
                keep = reader.prune_stripes_stats(tail, stats, [("doc_id", key, key)])
                c["lookup.stripes_considered"] += len(tail.footer.stripes)
                if not keep:
                    continue
                r = reader.OrcFileReader(path)
                stride = r.tail.footer.row_index_stride
                for i in keep:
                    n_groups = -(-r.tail.footer.stripes[i].number_of_rows // stride)
                    groups = r.prune_row_groups(i, "doc_id", key, key)
                    c["lookup.row_groups_considered"] += n_groups
                    if groups == []:
                        continue
                    c["lookup.stripes_read"] += 1
                    c["lookup.row_groups_read"] += n_groups if groups is None else len(groups)
                    for b in r.read_stripe_batches(i, ["doc_id", "n_tok"], row_groups=groups):
                        with tracer.span("lookup.filter"):
                            hits.extend(b.filter(pc.equal(b.column("doc_id"), key)).to_pylist())
            found.append((row, hits))
        return {"decoded": decoded, "full": full, "found": found}

    def check(self, out) -> None:
        for row, columns, batch in out["decoded"]:
            # map-side chunks are contiguous input rows: locate them by the
            # decoded first doc_id (a wrong id fails the comparison below)
            ids = batch.column("doc_id")
            try:
                first = int(ids[0].as_py()[4:]) if len(ids) else 0
            except ValueError as e:
                raise CheckFailed(f"decoded doc_id {ids[0]!r} is not a fixture id") from e
            _same(f"chunk at row {first} columns {columns}", batch,
                  _input_batch(self.inputs, first, int(row["n_rows"]), columns))
        if len(out["full"]) != len(self.inputs.file_bounds):
            raise CheckFailed(f"{len(out['full'])} ORC files for "
                              f"{len(self.inputs.file_bounds)} input files")
        # write_orc_dir names part files by task, and a task's rows are
        # one input file: match them by first doc_id
        by_first = {}
        for stripes in out["full"]:
            got = pa.Table.from_batches(stripes).combine_chunks().to_batches()[0]
            by_first[int(got.column("doc_id")[0].as_py()[4:])] = got
        for first, n in self.inputs.file_bounds:
            if first not in by_first:
                raise CheckFailed(f"no ORC file starts at input row {first}")
            _same(f"ORC file at row {first}", by_first[first], _input_batch(self.inputs, first, n))
        n_tok = self.inputs.table.column("n_tok")
        for row, hits in out["found"]:
            want = [{"doc_id": doc_id(row), "n_tok": n_tok[row].as_py()}]
            if hits != want:
                raise CheckFailed(f"replayed lookup of row {row} returned {hits}")


REPLAYS = {"write_path": WriteReplay, "read_path": ReadReplay}


def run_traced(replay, passes: int = 2) -> tuple[Tracer, float]:
    """Alternate untraced and traced passes; check the last traced pass's
    output exactly. Returns its tracer and the tracing overhead share."""
    untraced = traced = 0.0
    tracer = out = None
    for _ in range(passes):
        t0 = time.perf_counter()
        replay.run(_Untraced())
        untraced += time.perf_counter() - t0
        tracer = Tracer()
        with instrumented(tracer), tracer.span(ROOT_SPAN):
            out = replay.run(tracer)
        traced += tracer.wall()
    replay.check(out)
    return tracer, traced / untraced - 1
