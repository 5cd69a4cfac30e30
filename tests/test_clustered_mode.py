"""Clustered (zero-shuffle) encode mode: parity + bounded ratio cost."""

from __future__ import annotations

import pytest

from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import decode, encode, metrics_summary, verify


@pytest.fixture(scope="module")
def tiny(spark):
    pdf = codegen.generate(2_000)
    return pdf, spark.createDataFrame(pdf)


def test_clustered_parity(spark, tiny, tmp_path_factory):
    pdf, df = tiny
    out = str(tmp_path_factory.mktemp("clustered"))
    manifest = encode(spark, df, out, target_rows=500, mode="clustered")
    assert metrics_summary(manifest)["rows"] == len(pdf)
    report = verify(spark, df, decode(spark, out))
    assert report["ok"], report


def test_clustered_ratio_close_to_grouped(spark, tiny, tmp_path_factory):
    pdf, df = tiny
    # split the input across several files so fragments really happen
    src = str(tmp_path_factory.mktemp("src"))
    codegen.write_parquet(pdf, src, n_shards=8)
    sdf = spark.read.parquet(src)

    out_g = str(tmp_path_factory.mktemp("g"))
    out_c = str(tmp_path_factory.mktemp("c"))
    g = metrics_summary(encode(spark, sdf, out_g, target_rows=500, mode="grouped"))
    c = metrics_summary(encode(spark, sdf, out_c, target_rows=500, mode="clustered"))
    assert verify(spark, sdf, decode(spark, out_c))["ok"]
    # fragment keyframes + per-fragment tables cost something, but bounded
    assert c["enc_bytes"] < g["enc_bytes"] * 1.6, (c["enc_bytes"], g["enc_bytes"])


def test_clustered_no_shuffle_in_plan(spark, tiny):
    _, df = tiny
    from deltoid_spark.jobs.partitioning import assign_partitions
    from deltoid_spark.jobs.pipeline import BLOCK_SCHEMA, make_fragment_kernel

    dfp, _ = assign_partitions(df, 500)
    blocks = dfp.mapInArrow(make_fragment_kernel(), BLOCK_SCHEMA)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("BroadcastExchange")[0].replace(
        "BroadcastExchange", ""
    ) or "ShuffleExchange" not in plan
    # the only exchange allowed is the broadcast of the giant-repo salt map
    assert "ShuffleExchange" not in plan

def test_fragment_kernel_matches_grouped_kernel_per_part():
    """One split holding whole parts: the clustered kernel's block for
    each (part_id, column) is byte-identical to the grouped kernel's
    block for that part alone — both run the same encode core."""
    import zlib

    import pyarrow as pa

    from deltoid_spark.jobs.pipeline import make_encode_kernel, make_fragment_kernel

    pdf = codegen.generate(3_000, seed=5)
    # parts keyed by (repo, path), so every chain is whole inside one part
    pdf["part_id"] = [
        zlib.crc32(f"{r}\0{p}".encode()) % 4 for r, p in zip(pdf["repo"], pdf["path"])
    ]
    pdf = pdf.sample(frac=1.0, random_state=0).reset_index(drop=True)
    split = pa.Table.from_pandas(pdf, preserve_index=False)
    frag = pa.Table.from_batches(
        list(make_fragment_kernel()(iter(split.to_batches(max_chunksize=700))))
    ).to_pylist()
    assert {r["frag_id"] for r in frag} == {0}
    got = {(r["part_id"], r["column"]): r for r in frag}

    grouped = make_encode_kernel()
    want = {}
    for p in range(4):
        part = pa.Table.from_pandas(pdf[pdf["part_id"] == p], preserve_index=False)
        for r in grouped(part).to_pylist():
            want[(r["part_id"], r["column"])] = r
    assert got.keys() == want.keys() and len(want) == 4 * 5
    for k, r in want.items():
        for f in ("codec", "payload", "n_rows", "raw_bytes", "sha256", "smin", "smax", "bloom"):
            assert got[k][f] == r[f], (k, f)
