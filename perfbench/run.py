#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root (BENCHMARK.json describes the contract). One
Python process makes the seeded fixture table, starts Spark on local[N]
with N = min(4, usable cores) through ``session.get_spark``, sets up
SETUPS times (session, worker prewarm and a full-size warm-up pass of every
operation; ``setup_s`` is their median), then runs the workload's cycle of
operations, each cycle opening with a fixed reference job (the control), as
a closed loop with one client for ``--seconds`` seconds, checking
every result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with Spark's per-stage metrics recorded for every operation, then
replays the inputs Spark-free with spans around every layer and prints the
per-layer metrics; the spans and stage metrics go to
``.perfbench_out/trace-<workload>-seed<n>.json``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.replay import REPLAYS, ROOT_SPAN, run_traced  # noqa: E402
from perfbench.sparkstats import StageStats  # noqa: E402
from perfbench.workloads import CONTROL, ROWS, WORKLOADS, OpResult, make_inputs  # noqa: E402

SETUPS = 2
# untimed runs of the control on the first session and again before the
# window: a job keeps getting faster over its first few runs, in a JVM and
# again in each new session
CONTROL_WARM_RUNS = 2
MAX_CORES = 4
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "cycle_vs_reference": "ratio",
    "bytes_per_input_byte": "ratio",
}

# Spark stage metrics per layer, from the operations of these kinds
SPARK_LAYERS = {
    "encoder": (("encode_mapside", "encode_shuffled"),
                ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                 "task_max_over_median")),
    "decoder": (("decode_full", "decode_projected", "verify"),
                ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes")),
    "spark_source": (("orc_read", "lookup"), ("plan_s", "tasks", "executor_run_s")),
}
# layer self time metric -> span name
SPAN_TIMES = {
    "chunk.encode_s": "chunk.encode_chunk",
    "chunk.decode_s": "chunk.decode_chunk",
    "select.int_s": "select.encode_ints_auto",
    "select.str_s": "select.encode_strings_auto",
    "blockcomp.compress_s": "blockcomp.block_compress",
    "blockcomp.decompress_s": "blockcomp.block_decompress",
    "int_codecs.decode_s": "int_codecs.decode",
    "str_codecs.decode_s": "str_codecs.decode",
    "writer.write_batch_s": "writer.write_batch",
    "writer.close_s": "writer.close",
    "reader.read_tail_s": "reader.read_tail",
    "reader.read_stripe_s": "reader.read_stripe",
}
COUNTS = {
    "chunk.encode_calls": "count",
    "chunk.decode_calls": "count",
    "chunk.bytes_in": "bytes",
    "chunk.bytes_out": "bytes",
    "select.int_calls": "count",
    "select.str_calls": "count",
    "blockcomp.compress_bytes_in": "bytes",
    "blockcomp.compress_bytes_out": "bytes",
    "blockcomp.decompress_bytes_out": "bytes",
    "writer.stripes": "count",
    "writer.bytes_out": "bytes",
    "reader.stripes_read": "count",
    "lookup.stripes_considered": "count",
    "lookup.stripes_read": "count",
    "lookup.row_groups_considered": "count",
    "lookup.row_groups_read": "count",
}
# chosen-codec tags counted by name; anything else counts as "other"
INT_TAGS = ("rlev2", "rlev2_rle", "rlev1", "for", "bitpack", "dict", "raw", "other")
STR_TAGS = ("str_direct", "str_direct_fsst", "str_dict", "str_dict_fsst", "other")
NATIVE_CODECS = ("snappy", "lz4", "zstd")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {"session.get_spark_s": "s"}
    for layer, (_kinds, fields) in SPARK_LAYERS.items():
        for f in fields:
            units[f"{layer}.{f}"] = ("s" if f.endswith("_s") else "bytes" if f.endswith("bytes")
                                     else "ratio" if f == "task_max_over_median" else "count")
    units.update({name: "s" for name in SPAN_TIMES})
    units.update(COUNTS)
    units["blockcomp.kept_share"] = "ratio"
    units.update({f"select.int_codec.{t}": "count" for t in INT_TAGS})
    units.update({f"select.str_codec.{t}": "count" for t in STR_TAGS})
    units.update({f"blockcomp.native.{c}": "flag" for c in NATIVE_CODECS})
    units.update({
        "control.spark_orc_write_s": "s",
        "control.reference_s": "s",
        "trace.replay_s": "s",
        "trace.layer_share": "ratio",
        "trace.overhead_share": "ratio",
    })
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=ROWS,
                   help="input rows (smaller tables for the benchmark's own tests)")
    p.add_argument("--corrupt-chunk", action="store_true",
                   help="damage one encoded chunk in set-up (read_path self-test)")
    args = p.parse_args(argv)
    if args.rows < 16:
        p.error("--rows must be at least 16")
    return args


def configure_process(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work`` and every
    socket on the loopback interface; workers import the package from the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"


def start_spark(work: str):
    from orc_rs_spark.session import get_spark
    from perfbench.workloads import HASH_PARTITIONS

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=HASH_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # one input file per scan task, whatever the core count
            "spark.sql.files.openCostInBytes": str(1 << 30),
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_ops(ops, stats=None, deadline: float | None = None) -> list[OpResult]:
    """Run and check each operation in turn; stop early once ``deadline``
    (a perf_counter time) has passed."""
    out = []
    for kind, op in ops:
        if deadline is not None and time.perf_counter() >= deadline:
            break
        r = OpResult(kind)
        if stats is not None:
            group = stats.begin(kind)
        try:
            r.wall = op(r)
            r.ok = True
        except Exception as e:  # a failed operation is counted, never dropped
            r.error = f"{type(e).__name__}: {str(e)[:500]}"
            traceback.print_exc(file=sys.stderr)
        if stats is not None:
            r.stages = stats.for_group(group)
        out.append(r)
    return out


def probe_native_codecs(spark) -> dict:
    """blockcomp.NATIVE_CODECS as an executor task sees it."""

    def probe(batches):
        import json as _json

        import pyarrow as _pa

        from orc_rs_spark.kernels.blockcomp import NATIVE_CODECS as _native

        for _ in batches:
            pass
        yield _pa.RecordBatch.from_arrays(
            [_pa.array([_json.dumps(_native, sort_keys=True)])], names=["reg"])

    return json.loads(spark.range(1, numPartitions=1).mapInArrow(probe, "reg string")
                      .collect()[0]["reg"])


def _medians(records: list[OpResult], key) -> dict[str, float]:
    kinds = {r.kind for r in records if r.ok}
    return {k: statistics.median(key(r) for r in records if r.ok and r.kind == k)
            for k in kinds}


def end_to_end(wl, cycles: list[list[OpResult]], setups: list[float]) -> dict:
    m = {"setup_s": statistics.median(setups)}
    # the operations of every whole, clean cycle against the control runs
    # of the same cycles, so a slower host moves both sides
    whole = sum(n for _, n in wl.cycle)
    clean = [r for c in cycles if len(c) == whole and all(r.ok for r in c) for r in c]
    if clean:
        m["cycle_vs_reference"] = (sum(r.wall for r in clean if r.kind != CONTROL)
                               / sum(r.wall for r in clean if r.kind == CONTROL))
    try:
        stored = wl.stored_bytes()
    except KeyError:  # no operation produced the output
        stored = None
    if stored is not None:
        m["bytes_per_input_byte"] = stored / wl.inputs.input_bytes
    return m


def details(wl, window: list[OpResult], failed: int, attempted: int) -> dict:
    med = _medians(window, lambda r: r.wall)
    lookups = [r.wall for r in window if r.ok and r.kind == "lookup"]
    try:
        out = wl.details(med, lookups)
    except KeyError:  # a kind with no successful operation
        out = {}
    out["input_tokens"] = (wl.inputs.tokens, "tokens")
    out["input_bytes"] = (wl.inputs.input_bytes, "bytes")
    out["ops_failed_share"] = (failed / attempted, "failed/attempted")
    out["ops_timed"] = (len(window), "count")
    ops = [(k, n) for k, n in wl.cycle if k != CONTROL]
    if all(k in med for k, _ in ops):
        # the median cycle: every kind at its median wall
        out["tokens_per_s"] = (len(wl.bulk) * wl.inputs.tokens
                               / sum(med[k] for k in wl.bulk), "tokens/s")
        out["ops_per_s"] = (sum(n for _, n in ops) / sum(n * med[k] for k, n in ops), "1/s")
    if CONTROL in med:
        out["control_s"] = (med[CONTROL], "s")
    return out


def per_layer(wl, window, gets, native, replayed) -> dict:
    """Spark-side layer metrics, plus the replay's when ``replayed`` is
    (tracer, overhead share, counts taken after the pass)."""
    m = {"session.get_spark_s": statistics.median(gets),
         "control.spark_orc_write_s": wl.spark_orc_write_s,
         "control.reference_s": _medians(window, lambda r: r.wall).get(CONTROL, 0.0)}
    for c in NATIVE_CODECS:
        m[f"blockcomp.native.{c}"] = 1.0 if c in native else 0.0
    per_cycle = dict(wl.cycle)
    for layer, (kinds, fields) in SPARK_LAYERS.items():
        mine = [r for r in window if r.ok and r.kind in kinds]
        for f in fields:
            if f == "plan_s":
                m[f"{layer}.plan_s"] = statistics.median(r.plan_s for r in mine) if mine else 0.0
                continue
            med = _medians(mine, lambda r: r.stages[f])
            if f == "task_max_over_median":
                m[f"{layer}.{f}"] = max(med.values(), default=0.0)
            else:
                # one median cycle's worth
                m[f"{layer}.{f}"] = sum(per_cycle.get(k, 0) * v for k, v in med.items())
    if replayed is None:
        return m
    tracer, overhead, extra_counts = replayed
    self_times = tracer.self_times()
    for name, span in SPAN_TIMES.items():
        m[name] = self_times.get(span, 0.0)
    counts = dict(tracer.counts)
    counts.update(extra_counts)
    for name in COUNTS:
        m[name] = counts.get(name, 0)
    tried = counts.get("blockcomp.compress_calls", 0)
    m["blockcomp.kept_share"] = counts.get("blockcomp.compress_kept", 0) / tried if tried else 0.0
    for kind, tags in (("int", INT_TAGS), ("str", STR_TAGS)):
        prefix = f"select.{kind}_codec."
        chosen = {k[len(prefix):]: v for k, v in counts.items() if k.startswith(prefix)}
        for t in tags:
            m[prefix + t] = chosen.pop(t, 0) if t != "other" else 0
        m[prefix + "other"] += sum(chosen.values())
    wall = tracer.wall()
    m["trace.replay_s"] = wall
    m["trace.layer_share"] = (wall - self_times.get(ROOT_SPAN, 0.0)) / wall
    m["trace.overhead_share"] = overhead
    return m


def run(args, work: str) -> dict:
    configure_process(work)
    t = time.perf_counter()
    inputs = make_inputs(work, args.rows, args.seed)
    _log(f"inputs {time.perf_counter() - t:.2f} s")
    wl = WORKLOADS[args.workload](inputs, work, corrupt_chunk=args.corrupt_chunk)
    warm_up_kinds = [k for k, _ in wl.cycle if k != CONTROL]
    records: list[OpResult] = []
    setups, gets = [], []
    for rep in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_spark(work)
        get_s = time.perf_counter() - t0
        df = spark.read.parquet(inputs.dir)
        if rep == 0:
            t = time.perf_counter()
            wl.prepare(spark, df)
            records += run_ops(wl.ops(spark, df, kinds=[CONTROL] * CONTROL_WARM_RUNS))
            _log(f"untimed set-up {time.perf_counter() - t:.2f} s")
        t1 = time.perf_counter()
        records += run_ops(wl.ops(spark, df, kinds=warm_up_kinds))
        setups.append(get_s + time.perf_counter() - t1)
        gets.append(get_s)
        _log(f"set-up {rep + 1}/{SETUPS}: {setups[-1]:.2f} s (get_spark {get_s:.2f} s)")
        if rep < SETUPS - 1:
            spark.stop()

    warm = run_ops(wl.ops(spark, df, kinds=[CONTROL] * CONTROL_WARM_RUNS))
    records += warm
    _log("control warm-up " + " ".join(f"{r.wall:.3f}" for r in warm))
    stats = StageStats(spark) if args.trace else None
    # whole cycles until the deadline; the last one may stop part way
    cycles: list[list[OpResult]] = []
    deadline = time.perf_counter() + args.seconds
    while not cycles or time.perf_counter() < deadline:
        cycles.append(run_ops(wl.ops(spark, df), stats, deadline if cycles else None))
    window = [r for c in cycles for r in c]
    records += window
    _log(f"{len(window)} operations in {time.perf_counter() - deadline + args.seconds:.2f} s: "
         + " ".join(f"{r.kind}={r.wall:.3f}" for r in window))
    native = probe_native_codecs(spark) if args.trace else {}
    t = time.perf_counter()
    spark.stop()
    stop_jvm()
    _log(f"stop {time.perf_counter() - t:.2f} s")

    failed = sum(not r.ok for r in records)
    if args.trace:
        replay = REPLAYS[wl.name](wl)
        try:
            tracer, overhead = run_traced(replay)
            replayed = (tracer, overhead, replay.file_counts())
        except Exception:  # a failed replay or exact check is a failed operation
            traceback.print_exc(file=sys.stderr)
            tracer, replayed = None, None
            failed += 1
        records.append(OpResult("replay", ok=replayed is not None))
        values = per_layer(wl, window, gets, native, replayed)
        units = per_layer_units()
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"trace-{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "rows": inputs.rows,
                       "native_codecs_executor": native,
                       "operations": [vars(r) for r in window],
                       "spans": tracer.records() if tracer else []}, f)
        print(f"native_codecs_executor {json.dumps(native, sort_keys=True)}")
    else:
        values = end_to_end(wl, cycles, setups)
        units = END_TO_END
        for name, (v, unit) in details(wl, window, failed, len(records)).items():
            print(f"detail {name} {v:.10g} {unit}")
    metrics = {name: {"value": values[name], "unit": units[name]}
               for name in units if name in values}
    for name, m in metrics.items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": len(records), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orc_rs_spark", "__init__.py")):
        print(f"perfbench: no orc_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
