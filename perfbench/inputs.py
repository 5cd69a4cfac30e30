"""Seeded inputs for the benchmark workloads.

The same seed always yields the same tables.  The program under test
only ever sees the generated files.

* code corpus: ``fixtures.codegen.generate`` rows, trimmed by whole
  commit chains to a fixed raw size so that seeds differ in content but
  not in volume, then split into a base and an append batch;
* typed side table: int / bigint / double / timestamp columns under a
  two-column string key (see README.md, known defects);
* catalog tables: ``documents`` and ``embeddings`` with the columns and
  the measured duplicate structure of the query catalog's sf0.1 fixture
  tables, at a smaller row count.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CODE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
APPEND_TAIL = 4  # at most this many last versions of a chain go to the batch


def raw_bytes(df: pd.DataFrame, columns: list[str]) -> int:
    """UTF-8 bytes of the given string columns."""
    return int(sum(df[c].str.encode("utf-8").str.len().sum() for c in columns))


def code_corpus(seed: int, target_mb: float) -> pd.DataFrame:
    """codegen rows cut to ~``target_mb`` raw MB by whole chains.

    Chains are kept in a seeded random order until the target is met,
    so the repo-size skew and the chain-length mix survive the cut; the
    adversarial ``edge/`` chains are always kept.
    """
    from deltoid_spark.fixtures import codegen

    target = int(target_mb * 2**20)
    n_rows = int(target_mb * 600) + 500  # codegen yields ~2 KiB per row
    df = codegen.generate(n_rows, seed=seed)
    row_bytes = sum(df[c].str.encode("utf-8").str.len() for c in CODE_COLUMNS)
    chain = df["repo"] + "\x00" + df["path"]
    per_chain = row_bytes.groupby(chain, sort=True).sum()
    edge = per_chain.index.str.startswith("edge/")
    rng = np.random.default_rng(seed)
    order = np.concatenate(
        [np.flatnonzero(edge), rng.permutation(np.flatnonzero(~edge))]
    )
    cum = per_chain.to_numpy()[order].cumsum()
    keep = set(per_chain.index[order[: int(np.searchsorted(cum, target)) + 1]])
    return df[chain.isin(keep)].reset_index(drop=True)


def split_base_append(df: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Base = all but the last <= APPEND_TAIL versions of every chain;
    the batch holds those last versions.  Every chain keeps at least
    one version in the base, so no chain first appears in the batch."""
    keys = ["repo", "path"]
    version = df.groupby(keys)["commit"].rank(method="first").astype(np.int64)
    size = df.groupby(keys)["commit"].transform("size").astype(np.int64)
    tail = np.minimum(APPEND_TAIL, size - 1)
    in_batch = version > size - tail
    return (
        df[~in_batch].reset_index(drop=True),
        df[in_batch].reset_index(drop=True),
    )


def typed_table(seed: int, n_rows: int) -> pa.Table:
    """Sensor readings: key (site, sensor), ordered by ``ts``."""
    rng = np.random.default_rng(seed + 7)
    n_sensors = max(1, n_rows // 200)
    sensor = rng.integers(0, n_sensors, size=n_rows)
    sensor.sort(kind="stable")
    site = sensor % 17
    step = rng.integers(1_000_000, 60_000_000, size=n_rows)  # 1-60 s in us
    ts = 1_704_067_200_000_000 + np.cumsum(step)  # from 2024-01-01
    walk = np.round(np.cumsum(rng.normal(0.0, 0.5, size=n_rows)), 2)
    reading = np.round(20.0 + walk - np.floor(walk / 80.0) * 80.0, 2)
    count = rng.poisson(30, size=n_rows).astype(np.int32)
    total = (np.int64(3) << 40) + np.cumsum(rng.integers(0, 1 << 20, size=n_rows))
    return pa.table(
        {
            "site": pa.array([f"site{s:02d}" for s in site]),
            "sensor": pa.array([f"sensor{s:05d}" for s in sensor]),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "reading": pa.array(reading, type=pa.float64()),
            "count": pa.array(count, type=pa.int32()),
            "total": pa.array(total, type=pa.int64()),
        }
    )


def write_shards(df: pd.DataFrame | pa.Table, path: str, n_shards: int) -> str:
    """A directory of parquet shards, so Spark scans in parallel.  Written
    from Arrow rather than through ``codegen.write_parquet``'s pandas path,
    which would turn the typed table's microsecond timestamps into
    nanosecond ones that Spark does not read."""
    tbl = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-tbl.num_rows // n_shards))
    for s, lo in enumerate(range(0, max(1, tbl.num_rows), step)):
        pq.write_table(tbl.slice(lo, step), os.path.join(path, f"part-{s:05d}.parquet"))
    return path


# ------------------------------------------------------------ catalog ----

# The catalog tables follow the query catalog's fixture tables
# (documents.parquet / embeddings.parquet at sf0.1, 5 000 documents and
# 2 000 vectors), whose shape was measured and is reproduced here:
# uniform 10-100 words over one 31-word vocabulary, languages 41 % en
# and ~15 % each zh/es/fr/de, sources src{i % 20}; 4.9 % of documents
# are near copies of another (one word appended or the last word
# dropped, rarely two or three), 0.16 % exact copies; embeddings are
# isotropic random unit vectors of 64 floats with no planted clusters,
# labels uniform over 0-9.  README.md compares the query counts.
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
CATALOG_TABLES = ("documents", "embeddings")
SHAPE_SEED = 20261017  # fixes the catalog tables' content; --seed shuffles ids
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_COPY_P = 0.049
EXACT_COPY_P = 0.0016


def catalog_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """One fixed pair of tables, as the fixture is fixed; the seed
    shuffles which id each document and vector gets, and the labels.
    The duplicate structure, and with it the dedup queries' work, is
    the same for every seed: at these sizes a handful of pairs more or
    less changes how many connected-components rounds q41 runs."""
    rng = np.random.default_rng(seed + 11)
    return {"documents": _documents(rng, n_docs), "embeddings": _embeddings(rng, n_vecs)}


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents with near and exact copies at the fixture's rates."""
    shape = np.random.default_rng(SHAPE_SEED)
    langs = np.array(_LANGS)[shape.choice(len(_LANGS), size=n, p=_LANG_P)]
    lengths = shape.integers(10, 101, size=n)
    roll = shape.random(size=n)
    source = shape.integers(0, np.maximum(1, np.arange(n)))
    edit = shape.random(size=n)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and roll[i] < EXACT_COPY_P:
            texts.append(texts[source[i]])
        elif i > 0 and roll[i] < EXACT_COPY_P + NEAR_COPY_P:
            words = texts[source[i]].split(" ")
            k = 2 if edit[i] % 0.5 >= 0.49 else 1  # 2 % of the edits touch two words
            if edit[i] < 0.5:
                words += [_WORDS[j] for j in shape.integers(0, len(_WORDS), size=k)]
            else:
                words = words[: max(1, len(words) - k)]
            texts.append(" ".join(words))
        else:
            picks = shape.integers(0, len(_WORDS), size=int(lengths[i]))
            texts.append(" ".join(_WORDS[j] for j in picks))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[order]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Isotropic random unit vectors, in a seeded order."""
    shape = np.random.default_rng(SHAPE_SEED)
    v = shape.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v[rng.permutation(n)].astype(np.float32)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel())),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def write_catalog(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One parquet file per table, the layout the query catalog reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
