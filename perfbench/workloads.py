"""Inputs, operations and output checks of the benchmark's two workloads.

Every operation goes through a public entry point of the package
(``encoder.encode_table``, ``decoder.decode_table``/``verify_roundtrip``,
``orcfile.spark_source.write_orc_dir``/``read_orc``) and its result is
checked before it counts: an exception, a wrong row count, a wrong ``n_tok``
sum, a verify mismatch or a lookup that does not return exactly its one row
makes the operation a failed one.

The layout is pinned to constants instead of the session's
``defaultParallelism``, so every byte count is a function of (rows, seed)
only: FILES parquet files of one row group each are read one file per task
(``spark.sql.files.openCostInBytes`` above any file size stops Spark from
packing files together), the hash-shuffled encode and the verify join use
HASH_PARTITIONS partitions, and both ORC writers write one file per input
file.

The workloads split the program along its write and read paths, so every
layer has one workload that runs it and one that bypasses it: write_path
runs codec selection, block compression and the ORC writer and no decoder;
read_path runs decompression, the int/string decoders, the ORC reader and
its pruning and no encode kernel.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROWS = 8192
FILES = 4
HASH_PARTITIONS = 4
LOOKUPS_PER_CYCLE = 4
CONTROL = "control"


class CheckFailed(Exception):
    """An operation finished but returned a wrong result."""


@dataclass
class Inputs:
    dir: str
    table: pa.Table
    tokens: int
    input_bytes: int
    # (first row, row count) of each input file, in file order
    file_bounds: list[tuple[int, int]]
    # distinct seeded row indices, consumed in order by the lookups
    lookup_rows: np.ndarray

    @property
    def rows(self) -> int:
        return self.table.num_rows


def doc_id(row: int) -> str:
    """The fixture's doc_id of input row ``row``."""
    return f"doc-{row:012d}"


def make_inputs(work: str, rows: int, seed: int) -> Inputs:
    """Generate the fixture token table for ``seed`` and write it as FILES
    single-row-group parquet files of contiguous row ranges."""
    from orc_rs_spark.fixtures import token_table

    table = token_table(rows, seed)
    in_dir = os.path.join(work, "input")
    os.makedirs(in_dir)
    bounds = []
    for i in range(FILES):
        lo, hi = i * rows // FILES, (i + 1) * rows // FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(in_dir, f"part-{i}.parquet"),
                       row_group_size=hi - lo)
        bounds.append((lo, hi - lo))
    rng = np.random.default_rng([seed, 1])
    return Inputs(
        dir=in_dir,
        table=table,
        tokens=int(pc.sum(table.column("n_tok")).as_py() or 0),
        input_bytes=table.nbytes,
        file_bounds=bounds,
        lookup_rows=rng.permutation(rows),
    )


def orc_bytes(directory: str) -> int:
    """Total size of the ORC part files in ``directory``."""
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(directory, "*.orc")))


def chunk_table_sums(directory: str) -> tuple[int, int, int]:
    """(rows, tokens, enc_bytes) summed over a chunk table on disk."""
    t = pq.read_table(directory, columns=["n_rows", "n_values", "enc_bytes"])
    return tuple(int(pc.sum(t.column(c)).as_py() or 0)
                 for c in ("n_rows", "n_values", "enc_bytes"))


def corrupt_one_chunk(directory: str) -> None:
    """Flip one byte in the middle of the first chunk row's tokens stream
    (the benchmark's self-test that a damaged chunk is reported as a failed
    operation)."""
    path = sorted(glob.glob(os.path.join(directory, "*.parquet")))[0]
    t = pq.read_table(path)
    streams = t.column("s_tokens").to_pylist()
    damaged = bytearray(streams[0])
    damaged[len(damaged) // 2] ^= 0xFF
    streams[0] = bytes(damaged)
    i = t.schema.get_field_index("s_tokens")
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(streams, pa.binary())), path)
    # the checksum Spark wrote beside the file would now fail the read itself
    crc = os.path.join(directory, f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def reference_task(batches):
    """Fixed CPU work in a Python worker: zlib and a NumPy sort of seeded
    data, the kinds of work the codec kernels do."""
    for _ in batches:
        pass
    rng = np.random.default_rng(0)
    data = rng.integers(0, 16, 1 << 20, dtype=np.uint8).tobytes()
    n = sum(len(zlib.compress(data, 6)) for _ in range(2))
    v = np.sort(rng.integers(0, 1 << 30, 1 << 19))
    n += int(np.diff(v).max())
    yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])



def _timed(action):
    t0 = time.perf_counter()
    out = action()
    return time.perf_counter() - t0, out


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


@dataclass
class OpResult:
    kind: str
    wall: float = 0.0
    ok: bool = False
    error: str = ""
    # time spent inside read_orc() before the action (read ops only)
    plan_s: float = 0.0
    stages: dict = field(default_factory=dict)


class Workload:
    """A closed loop over a fixed cycle of operations on one input table.

    ``cycle`` lists (kind, count) per cycle; ``bulk`` kinds each process the
    whole table and set ``tokens_per_s``."""

    name = ""
    cycle: tuple[tuple[str, int], ...] = ()
    bulk: tuple[str, ...] = ()

    def __init__(self, inputs: Inputs, work: str, corrupt_chunk: bool = False):
        self.inputs = inputs
        self.work = work
        self.corrupt_chunk = corrupt_chunk
        self.spark_orc_bytes = 0
        self.spark_orc_write_s = 0.0
        self._reference_result = None
        # byte counts per output, fixed by the first operation that makes it
        self.bytes: dict[str, int] = {}

    @property
    def orc_dir(self) -> str:
        return os.path.join(self.work, "orc_wire")

    def prepare(self, spark, df) -> None:
        """Untimed set-up on the first session."""

    def ops(self, spark, df, kinds=None) -> list[tuple[str, callable]]:
        """One cycle of (kind, operation); ``kinds`` limits it to one
        operation of each listed kind (the warm-up pass). An operation takes
        its OpResult, returns its wall seconds and raises on a wrong
        result."""
        makers = self._makers(spark, df)
        makers[CONTROL] = lambda result: self._reference(spark)
        plan = [(k, 1) for k in kinds] if kinds else self.cycle
        return [(k, makers[k]) for k, n in plan for _ in range(n)]

    def _makers(self, spark, df) -> dict[str, callable]:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        """Bytes of the chunk table plus the ORC files the workload makes or
        reads."""
        raise NotImplementedError

    def details(self, med: dict[str, float], lookups: list[float]) -> dict[str, tuple[float, str]]:
        """The per-operation figures behind the end-to-end metrics."""
        raise NotImplementedError

    def _reference(self, spark) -> float:
        """The control: a fixed Python job on the same executors, one task
        per core slot, that no program change touches. Its wall tracks the
        host's speed at that moment."""
        wall, got = _timed(lambda: spark.range(FILES, numPartitions=FILES)
                           .mapInArrow(reference_task, "n long").collect())
        if self._reference_result is None:
            self._reference_result = next(reference_task([])).column(0)[0].as_py()
        _expect("reference job result", [r["n"] for r in got],
                [self._reference_result] * FILES)
        return wall

    def _same_bytes(self, tag: str, n: int) -> None:
        # byte counts are a function of (rows, seed): a second operation
        # that writes different bytes is nondeterministic output
        _expect(f"{tag} bytes vs the first {tag} of this run", n, self.bytes.setdefault(tag, n))

    def _encode(self, chunks_df, tag: str) -> float:
        out = os.path.join(self.work, f"chunks_{tag}")
        wall, _ = _timed(lambda: chunks_df.write.mode("overwrite").parquet(out))
        rows, tokens, enc = chunk_table_sums(out)
        _expect(f"{tag} chunk rows", rows, self.inputs.rows)
        _expect(f"{tag} chunk n_values", tokens, self.inputs.tokens)
        self._same_bytes(tag, enc)
        return wall

    def _write_orc(self, df) -> float:
        from orc_rs_spark.orcfile.spark_source import write_orc_dir

        shutil.rmtree(self.orc_dir, ignore_errors=True)
        wall, n = _timed(lambda: write_orc_dir(df, self.orc_dir))
        _expect("ORC rows written", n, self.inputs.rows)
        self._same_bytes("orc", orc_bytes(self.orc_dir))
        return wall


class WritePath(Workload):
    """Map-side encode (q1b shape) and hash-shuffled encode (q1 shape) of
    the token table to a parquet chunk table, and write_orc_dir of the same
    rows."""

    name = "write_path"
    cycle = ((CONTROL, 1), ("encode_mapside", 1), ("encode_shuffled", 1), ("orc_write", 1))
    bulk = ("encode_mapside", "encode_shuffled", "orc_write")

    def prepare(self, spark, df):
        # Spark's own zlib ORC write of the same rows: the size bar for
        # vs_spark_orc, and the JVM-only control the repository reads its
        # claims against
        out = os.path.join(self.work, "spark_orc")
        self.spark_orc_write_s, _ = _timed(
            lambda: df.write.mode("overwrite").option("compression", "zlib").orc(out))
        self.spark_orc_bytes = orc_bytes(out)

    def _makers(self, spark, df):
        from orc_rs_spark.encoder import encode_table

        return {
            "encode_mapside": lambda result: self._encode(
                encode_table(df, repartition=False), "mapside"),
            "encode_shuffled": lambda result: self._encode(
                encode_table(df, partitions=HASH_PARTITIONS, partition_mode="hash"),
                "shuffled"),
            "orc_write": lambda result: self._write_orc(df),
        }

    def stored_bytes(self) -> int:
        # the hash-shuffled encode's output, as bench.py's enc_bytes anchor
        return self.bytes["shuffled"] + self.bytes["orc"]

    def details(self, med, lookups):
        t, b = self.inputs.tokens, self.inputs.input_bytes
        return {
            "encode_tokens_per_s": (t / med["encode_mapside"], "tokens/s"),
            "encode_shuffled_tokens_per_s": (t / med["encode_shuffled"], "tokens/s"),
            "orc_write_tokens_per_s": (t / med["orc_write"], "tokens/s"),
            "enc_bytes_per_input_byte": (self.bytes["shuffled"] / b, "ratio"),
            "mapside_enc_bytes_per_input_byte": (self.bytes["mapside"] / b, "ratio"),
            "orc_bytes_per_input_byte": (self.bytes["orc"] / b, "ratio"),
            "vs_spark_orc": (self.bytes["shuffled"] / self.spark_orc_bytes, "ratio"),
            "enc_bytes": (self.bytes["shuffled"], "bytes"),
            "mapside_enc_bytes": (self.bytes["mapside"], "bytes"),
            "orc_wire_bytes": (self.bytes["orc"], "bytes"),
            "spark_orc_bytes": (self.spark_orc_bytes, "bytes"),
        }


class ReadPath(Workload):
    """Full decode, decode projected to (doc_id, n_tok) and verify_roundtrip
    of a chunk table, a full read_orc of ORC files of the same rows, and
    pruned point lookups on doc_id over distinct seeded keys. The chunk
    table and the ORC files are written untimed in set-up."""

    name = "read_path"
    cycle = ((CONTROL, 1), ("decode_full", 1), ("decode_projected", 1), ("verify", 1),
             ("orc_read", 1), ("lookup", LOOKUPS_PER_CYCLE))
    bulk = ("decode_full", "decode_projected", "verify", "orc_read")

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self._next_key = 0

    @property
    def chunks_dir(self) -> str:
        return os.path.join(self.work, "chunks_mapside")

    def prepare(self, spark, df):
        from orc_rs_spark.encoder import encode_table

        self._encode(encode_table(df, repartition=False), "mapside")
        self._write_orc(df)
        if self.corrupt_chunk:
            corrupt_one_chunk(self.chunks_dir)

    def _sum_n_tok(self, decoded) -> float:
        from pyspark.sql import functions as F

        wall, row = _timed(lambda: decoded.agg(
            F.sum("n_tok").alias("t"), F.count(F.lit(1)).alias("n")).collect()[0])
        _expect("decoded n_tok sum", int(row["t"] or 0), self.inputs.tokens)
        _expect("decoded rows", int(row["n"]), self.inputs.rows)
        return wall

    def _verify(self, df, chunks) -> float:
        from orc_rs_spark.decoder import decode_table, verify_roundtrip

        wall, (n, bad) = _timed(lambda: verify_roundtrip(df, decode_table(chunks)))
        _expect("verify (rows, mismatches)", (n, bad), (self.inputs.rows, 0))
        return wall

    def _read(self, spark, result: OpResult) -> float:
        from pyspark.sql import functions as F

        from orc_rs_spark.orcfile.spark_source import read_orc

        t0 = time.perf_counter()
        rdf = read_orc(spark, self.orc_dir)
        result.plan_s = time.perf_counter() - t0
        row = rdf.agg(F.sum("n_tok").alias("t"), F.count(F.lit(1)).alias("n")).collect()[0]
        wall = time.perf_counter() - t0
        _expect("ORC read n_tok sum", int(row["t"] or 0), self.inputs.tokens)
        _expect("ORC read rows", int(row["n"]), self.inputs.rows)
        return wall

    def next_lookup_row(self) -> int:
        keys = self.inputs.lookup_rows
        row = int(keys[self._next_key % len(keys)])
        self._next_key += 1
        return row

    def _lookup(self, spark, result: OpResult) -> float:
        from pyspark.sql import functions as F

        from orc_rs_spark.orcfile.spark_source import read_orc

        row = self.next_lookup_row()
        key = doc_id(row)
        t0 = time.perf_counter()
        rdf = read_orc(spark, self.orc_dir, predicate=("doc_id", key, key),
                       columns=["doc_id", "n_tok"])
        result.plan_s = time.perf_counter() - t0
        got = rdf.where(F.col("doc_id") == key).collect()
        wall = time.perf_counter() - t0
        want = self.inputs.table.column("n_tok")[row].as_py()
        _expect(f"lookup {key} rows (doc_id, n_tok)",
                [(r["doc_id"], r["n_tok"]) for r in got], [(key, want)])
        return wall

    def _makers(self, spark, df):
        from orc_rs_spark.decoder import decode_table

        chunks = spark.read.parquet(self.chunks_dir)
        return {
            "decode_full": lambda result: self._sum_n_tok(decode_table(chunks)),
            "decode_projected": lambda result: self._sum_n_tok(
                decode_table(chunks, columns=("doc_id", "n_tok"))),
            "verify": lambda result: self._verify(df, chunks),
            "orc_read": lambda result: self._read(spark, result),
            "lookup": lambda result: self._lookup(spark, result),
        }

    def stored_bytes(self) -> int:
        return self.bytes["mapside"] + self.bytes["orc"]

    def details(self, med, lookups):
        t, r = self.inputs.tokens, self.inputs.rows
        out = {
            "decode_tokens_per_s": (t / med["decode_full"], "tokens/s"),
            "decode_projected_rows_per_s": (r / med["decode_projected"], "rows/s"),
            "verify_rows_per_s": (r / med["verify"], "rows/s"),
            "orc_read_tokens_per_s": (t / med["orc_read"], "tokens/s"),
            "chunk_enc_bytes": (self.bytes["mapside"], "bytes"),
            "orc_wire_bytes": (self.bytes["orc"], "bytes"),
        }
        if lookups:
            q = np.quantile(lookups, [0.5, 0.9])
            out["lookup_p50_s"] = (float(q[0]), "s")
            out["lookup_p90_s"] = (float(q[1]), "s")
        return out


WORKLOADS = {w.name: w for w in (WritePath, ReadPath)}
