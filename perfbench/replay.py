"""In-process, single-threaded replay of the encode/append/decode kernels.

The inputs are partitioned exactly as the Spark jobs partition them
(``assign_partitions`` and the same partition map for the append
batch); each partition then goes through the kernel factories'
closures, first untraced and then with every public kernel function
wrapped at the module attribute its callers use.
"""

from __future__ import annotations

import contextlib
import time

import pyarrow as pa
import pyarrow.compute as pc

from tracing import Tracer, wrap_attr

# (module path, attribute, span name)
KERNEL_ATTRS = (
    ("deltoid_spark.kernels.selector", "select_and_encode", "selector"),
    ("deltoid_spark.kernels.selector", "column_stats", "selector.stats"),
    ("deltoid_spark.kernels.api", "encode_block", "encode_block"),
    ("deltoid_spark.kernels.api", "decode_block", "decode_block"),
    ("deltoid_spark.kernels.api", "decode_block_arrow", "decode_block"),
    ("deltoid_spark.kernels.api", "sha256_column", "digest"),
    ("deltoid_spark.kernels.api", "sha256_column_arrow", "digest"),
    ("deltoid_spark.kernels.blocks", "decompress", "zstd.decompress"),
    ("deltoid_spark.kernels.fsst", "encode_fsst", "fsst.encode"),
    ("deltoid_spark.kernels.bloom", "bloom_build", "bloom.build"),
    ("deltoid_spark.kernels.chain", "encode_chain", "chain.encode"),
    ("deltoid_spark.kernels.chain", "decode_chain", "chain.decode"),
    ("deltoid_spark.kernels.chain", "decode_chain_arrow", "chain.decode"),
    ("deltoid_spark.kernels.floats", "encode_fp", "typed.encode"),
    ("deltoid_spark.kernels.intcodec", "encode_dint", "typed.encode"),
)

# wrapped attributes this corpus need not reach: the kernels take the
# Arrow paths (sha256_column_arrow, decode_chain_arrow) and fall back to
# these pandas ones only for inputs the Arrow paths do not handle.
# Every other wrapper must record at least one call in the traced
# replay, or a layer's time would pass unseen into the factories' own.
MAY_BE_IDLE = frozenset({
    "deltoid_spark.kernels.api.sha256_column",
    "deltoid_spark.kernels.chain.decode_chain",
})


def _by_part(tbl: pa.Table) -> dict[int, pa.Table]:
    ids = tbl.column("part_id")
    return {
        int(p): tbl.filter(pc.equal(ids, p))
        for p in sorted(pc.unique(ids).to_pylist())
    }


def partition(spark, inp, typed_key) -> dict:
    """Partition the base, the batch and the typed table like the jobs do."""
    from deltoid_spark.jobs import partitioning
    from deltoid_spark.jobs.pipeline import COLUMNS, table_spec

    base = spark.read.parquet(inp.base).select(*COLUMNS)
    base_p, n_parts = partitioning.assign_partitions(base, inp.target_rows)
    salt_map, pbase, n_small = partitioning.build_partition_map(base, inp.target_rows)
    batch = spark.read.parquet(inp.batch).select(*COLUMNS)
    batch_p = partitioning.apply_partition_map(batch, salt_map, pbase, n_small)
    typed = spark.read.parquet(inp.typed)
    typed_p, _ = partitioning.assign_partitions(
        typed, max(250, inp.typed_rows // 16), key_cols=typed_key
    )
    base_parts = _by_part(base_p.toArrow())
    return {
        "base": base_parts,
        "batch": _by_part(batch_p.toArrow()),
        "typed": _by_part(typed_p.toArrow()),
        "typed_spec": table_spec(typed),
        "n_parts": n_parts,
        "max_part_rows": max(t.num_rows for t in base_parts.values()),
    }


def _kernels(typed_spec, typed_key):
    from deltoid_spark.jobs import pipeline as pl

    return {
        "encode": pl.make_encode_kernel(run_id="replay"),
        "append": pl.make_append_kernel(
            pl.DEFAULT_SPEC, pl.DEFAULT_KEY_COLS, pl.DEFAULT_ORDER_COLS,
            pl.DEFAULT_CONTENT_COL, 32, None, "replay-append",
        ),
        "decode": pl.make_decode_kernel(pl.DEFAULT_SPEC),
        "typed": pl.make_encode_kernel(
            spec=typed_spec, key_cols=typed_key, order_cols=("ts",),
            content_col=None, run_id="replay-typed",
        ),
    }


def _run_phases(parts: dict, kernels: dict, tracer: Tracer) -> tuple[dict, dict]:
    """Every phase over every partition; returns (walls, outputs)."""
    walls: dict[str, float] = {}
    encoded: dict[int, pa.Table] = {}
    appended: dict[int, pa.Table] = {}

    t0 = time.perf_counter()
    for p, tbl in parts["base"].items():
        with tracer.span("kernel.encode"):
            encoded[p] = kernels["encode"](tbl)
    walls["encode"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for p, tbl in parts["batch"].items():
        with tracer.span("kernel.append"):
            appended[p] = kernels["append"](tbl, encoded[p])
    walls["append"] = time.perf_counter() - t0

    inputs = {}
    for p, blocks in encoded.items():
        frags = [blocks.append_column("gen", pa.array([0] * blocks.num_rows, pa.int64()))]
        if p in appended:
            extra = appended[p]
            frags.append(extra.append_column("gen", pa.array([1] * extra.num_rows, pa.int64())))
        inputs[p] = pa.concat_tables(frags).to_pandas()
    t0 = time.perf_counter()
    decoded_rows = 0
    for p, pdf in inputs.items():
        with tracer.span("kernel.decode"):
            decoded_rows += len(kernels["decode"](pdf))
    walls["decode"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    for tbl in parts["typed"].values():
        with tracer.span("kernel.typed"):
            kernels["typed"](tbl)
    walls["typed"] = time.perf_counter() - t0

    enc_bytes: dict[str, int] = {}
    for blocks in encoded.values():
        for col, n in zip(blocks.column("column").to_pylist(), blocks.column("enc_bytes").to_pylist()):
            enc_bytes[col] = enc_bytes.get(col, 0) + n
    return walls, {"enc_bytes": enc_bytes, "decoded_rows": decoded_rows}


def replay(spark, inp, typed_key) -> dict:
    """Untraced, traced, then untraced again, so that first-call costs
    do not all land on one side; spans, walls and outputs of each."""
    import importlib

    from deltoid_spark.kernels import blocks

    parts = partition(spark, inp, typed_key)
    kernels = _kernels(parts["typed_spec"], typed_key)
    untraced = Tracer(enabled=False)
    plain_walls, outputs = [], []
    walls, out = _run_phases(parts, kernels, untraced)
    plain_walls.append(walls)
    outputs.append(out)

    tracer = Tracer()
    compressed_in = []
    orig_compress = blocks.compress
    calls = {"deltoid_spark.kernels.blocks.compress": 0}

    def compress(data, level=None):
        calls["deltoid_spark.kernels.blocks.compress"] += 1
        compressed_in.append(len(data))
        with tracer.span("zstd.compress"):
            return orig_compress(data, level)

    with contextlib.ExitStack() as stack:
        for mod, attr, name in KERNEL_ATTRS:
            stack.enter_context(
                wrap_attr(tracer, importlib.import_module(mod), attr, name, calls)
            )
        blocks.compress = compress
        stack.callback(setattr, blocks, "compress", orig_compress)
        traced_walls, out = _run_phases(parts, kernels, tracer)
    outputs.append(out)
    walls, out = _run_phases(parts, kernels, untraced)
    plain_walls.append(walls)
    outputs.append(out)
    return {
        "spans": tracer.spans,
        "plain_walls": plain_walls,
        "traced_walls": traced_walls,
        "outputs": outputs,
        "compress_bytes_in": sum(compressed_in),
        "calls": calls,
        "n_parts": parts["n_parts"],
        "max_part_rows": parts["max_part_rows"],
        "base_rows": sum(t.num_rows for t in parts["base"].values()),
        "batch_rows": sum(t.num_rows for t in parts["batch"].values()),
    }
