"""The per-layer metric set, shared by every workload.

Both workloads report every name below in a traced run.  A layer that a
workload never enters reads zero there: that is the bypass side of the
layer (see README.md for which end-to-end metric each one moves).
"""

from __future__ import annotations

from codec import OPS
from inputs import CODE_COLUMNS

PIPELINE_KEYS = {
    "spark_jobs": "count", "python_s": "s", "python_boot_s": "s",
    "arrow_sent_mb": "MiB", "arrow_recv_mb": "MiB", "shuffle_write_mb": "MiB",
}
# vacuum runs no Python and shuffles nothing worth tracking
PIPELINE_ONLY_JOBS = ("vacuum",)

KERNEL_METRICS = {
    "selector.s": "s", "selector.stats_s": "s", "selector.trials_per_call": "count",
    "encode_block.s": "s", "zstd.compress_s": "s", "zstd.compress_mb_in": "MiB",
    "zstd.decompress_s": "s", "fsst.encode_s": "s", "bloom.build_s": "s",
    "digest.s": "s", "chain.encode_s": "s", "chain.decode_s": "s",
    "decode_block.s": "s", "kernel.encode_self_s": "s", "kernel.append_self_s": "s",
    "kernel.decode_self_s": "s", "kernel.typed_self_s": "s", "typed.encode_s": "s",
}
# kernel span name -> metric name (self time)
KERNEL_SPANS = {
    "selector": "selector.s", "selector.stats": "selector.stats_s",
    "encode_block": "encode_block.s", "zstd.compress": "zstd.compress_s",
    "zstd.decompress": "zstd.decompress_s", "fsst.encode": "fsst.encode_s",
    "bloom.build": "bloom.build_s", "digest": "digest.s",
    "chain.encode": "chain.encode_s", "chain.decode": "chain.decode_s",
    "decode_block": "decode_block.s", "kernel.encode": "kernel.encode_self_s",
    "kernel.append": "kernel.append_self_s", "kernel.decode": "kernel.decode_self_s",
    "kernel.typed": "kernel.typed_self_s", "typed.encode": "typed.encode_s",
}
REPLAY_PHASES = ("encode", "append", "decode", "typed")

# near-duplicate queries: q26 and q30 run q18's LSH candidate pairs
# inside, q30 and q41 the connected-components rounds
CATALOG_QUERIES = ("q26_jaccard_verify", "q30_dup_clusters", "q41_embedding_clusters")

STRING_CODECS = ("plain", "dict", "rle", "front", "hex", "fsst", "chain")


def names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {
        "partitioning.build_map_s": "s",
        "partitioning.parts": "count",
        "partitioning.max_part_rows": "count",
    }
    for op in OPS:
        for key, unit in PIPELINE_KEYS.items():
            if op not in PIPELINE_ONLY_JOBS or key == "spark_jobs":
                out[f"{op}.{key}"] = unit
    out["lookup.rows_decoded"] = "count"
    out.update(KERNEL_METRICS)
    out["replay.kernel_cover"] = "ratio"
    for q in CATALOG_QUERIES:
        out[f"catalog.{q}_s"] = "s"
    out["catalog.q30_spark_jobs"] = "count"
    out["catalog.q41_spark_jobs"] = "count"
    out["catalog.spark_jobs"] = "count"
    out["catalog.python_s"] = "s"
    out["catalog.shuffle_write_mb"] = "MiB"
    for c in CODE_COLUMNS:
        out[f"bytes.{c}"] = "B"
    for c in STRING_CODECS:
        out[f"codec.{c}.blocks"] = "count"
    out["process.peak_rss_mb"] = "MiB"
    out["trace.job_cover"] = "ratio"
    out["trace.collect_s"] = "s"
    for phase in REPLAY_PHASES:
        out[f"trace.{phase}_overhead_s"] = "s"
    return out


# the direction an optimisation should move a metric; everything else
# (time, bytes, jobs, blocks, trial encodes) is better lower
HIGHER = {"partitioning.parts", "replay.kernel_cover", "trace.job_cover"}


def spec() -> list[dict]:
    """The ``per_layer`` entries of BENCHMARK.json."""
    return [
        {"name": k, "unit": u, "better": "higher" if k in HIGHER else "lower"}
        for k, u in names().items()
    ]


def empty() -> dict[str, list]:
    """name -> [0, unit]; workloads fill in what they measure."""
    return {k: [0, u] for k, u in names().items()}
