"""The three job entry points (SURVEY.md §3.2):

J1 ``encode``  — table -> compressed blocks + manifest + metrics
J2 ``decode``  — blocks -> table' (bit-identical)
J3 ``verify``  — digest-parity audit of table vs table'

Dataflow (J1): read parquet -> skew-aware deterministic ``part_id``
(partitioning.py) -> **one planned shuffle** (``groupBy(part_id)``)
-> ``applyInArrow`` encode kernel (executor-local numpy; whole
partition visible so (key...) chains are complete; the kernel owns the
Arrow -> pandas conversion so nullable ints and nested trees stay
bit-exact) -> blocks parquet + manifest parquet.

Typed columns: every scalar Spark type routes to a kernel — strings
through the codec selector (the designated content column through the
CHAIN trial), int/boolean/timestamp/date through FoR+bit-pack, floats
through the FP lane codec — mirroring the reference's per-type Delta
impls from one macro (/root/reference/deltoid/src/core.rs:102-122).

Commit linearization: chains sort by ``order_cols`` within each key
group (default: ``ts`` when present, then ``commit``), realizing
SURVEY §3.2's rank linearization — content hashes as commit ids no
longer scramble version order when a timestamp column exists.

Resume + failure isolation (north_rule "resumable", reference error
taxonomy /root/reference/deltoid/src/error.rs:143-183): every encode
run gets a ``run_id`` (tagged on block rows) and a monotonically
increasing manifest ``gen``.  The manifest is append-only; readers
resolve each part_id to its latest generation.  A partition whose
kernel raises emits a single ``codec="error"`` block row -> manifest
``status="failed"`` with the error text; the job completes, decode
skips the partition, and a re-run re-encodes exactly the failed /
missing partitions.  Because decode joins blocks on (part_id, run_id),
fragments torn off by a crashed run can never mix with a later run's
fragments (whatever the input split layout) — in any mode.

Zero per-row Python: the only JVM<->Python boundary is Arrow batches
into the kernels.
"""

from __future__ import annotations

import functools
import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..kernels import (
    api,
    blocks as blocks_mod,
    bloom as bloom_kernel,
    chain as chain_kernel,
    floats,
    mapdelta as mapdelta_kernel,
    selector,
    strings,
)
from .partitioning import (
    DEFAULT_TARGET_ROWS,
    apply_partition_map,
    build_partition_map,
)

# legacy fixed layout of the code table — the default spec when callers
# don't pass an explicit schema (fixture tables, streaming ingest)
COLUMNS = ["repo", "path", "commit", "lang", "content"]
DEFAULT_SPEC = [(c, "string") for c in COLUMNS]
DEFAULT_KEY_COLS = ("repo", "path")
DEFAULT_ORDER_COLS = ("commit",)
DEFAULT_CONTENT_COL = "content"

BLOCK_SCHEMA = (
    "part_id long, frag_id long, column string, codec string, payload binary, "
    "n_rows long, raw_bytes long, enc_bytes long, sha256 string, wall_s double, "
    "run_id string, zmin long, zmax long, smin string, smax string, bloom binary"
)

ROW_SCHEMA = "repo string, path string, commit string, lang string, content string"

# scalar Spark types the encoder routes (simpleString -> logical width)
_INT_DDL = {"bigint": 8, "int": 4, "smallint": 2, "tinyint": 1}
_WIDTHS = {**_INT_DDL, "boolean": 1, "timestamp": 8, "date": 4, "float": 4, "double": 8}
# specialized nested codecs: array<string> -> STRLIST; map<string,string>
# -> MAPDELTA (keyed Add/Edit/Remove chains, reference hashmap.rs:57-85).
# Every OTHER struct/array/map tree routes to the recursive NESTED codec
# (per-field leaf kernels, reference derive gen/mod.rs:423-430).
_NESTED_DDL = {"array<string>", "map<string,string>"}
SUPPORTED_DDL = {"string", *_WIDTHS, *_NESTED_DDL}

_NS_PER_DAY = 86_400 * 10**9


def table_spec(df: DataFrame) -> list[tuple[str, str]]:
    """(name, ddl) per column; rejects unsupported types up front."""
    from ..kernels import nested as nested_kernel

    spec = []
    for f in df.schema.fields:
        ddl = f.dataType.simpleString()
        if ddl not in SUPPORTED_DDL and not nested_kernel.is_supported_ddl(ddl):
            raise ValueError(
                f"column {f.name!r} has unsupported type {ddl!r}; supported: "
                f"scalars {sorted(SUPPORTED_DDL)} plus arbitrary "
                "struct<...>/array<...>/map<...> trees over them"
            )
        spec.append((f.name, ddl))
    return spec


# ------------------------------------------------------------- J1 encode ----


def _group_sizes(keys: pd.Series) -> np.ndarray:
    arr = keys.to_numpy(dtype=object)
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.flatnonzero(np.concatenate(([True], arr[1:] != arr[:-1])))
    return np.diff(np.concatenate((starts, [n]))).astype(np.int64)


def _key_series(pdf: pd.DataFrame, key_cols: tuple[str, ...]) -> pd.Series:
    out = pdf[key_cols[0]].astype(str)
    for k in key_cols[1:]:
        out = out + "\x00" + pdf[k].astype(str)
    return out


def _storage_int64(s: pd.Series, ddl: str) -> pd.Series:
    """Convert a non-string scalar column to a nullable Int64 series the
    FoR kernel can encode (timestamps as epoch ns, dates as epoch days)."""
    mask = s.isna()
    if ddl == "timestamp":
        vals = s.fillna(pd.Timestamp(0)).astype("datetime64[ns]").astype("int64")
    elif ddl == "date":
        vals = pd.to_datetime(s).fillna(pd.Timestamp(0)).astype("int64") // _NS_PER_DAY
    elif ddl == "boolean":
        vals = s.fillna(False).astype("int64")
    else:
        # int family.  The encode jobs enter through applyInArrow and
        # convert with exact Int* dtypes (_table_to_pdf), so s arrives
        # as int64/Int64 here; a float64 arrival means a caller on the
        # lossy pandas boundary, where values past 2^53 may already be
        # rounded — fail the partition rather than corrupt silently
        # (ADVICE r02).
        if s.dtype.kind == "f":
            nn = s.dropna().to_numpy()
            if len(nn) and float(np.abs(nn).max()) >= float(2**53):
                raise ValueError(
                    f"int column ({ddl}) arrived as float64 with |v| >= 2^53; "
                    "exact round-trip is not provable at the Arrow->pandas "
                    "boundary — encode via the job API (nullable ints are "
                    "shielded there) or pass an exact integer dtype"
                )
        vals = s.fillna(0).astype("int64")
    out = pd.Series(np.asarray(vals, dtype=np.int64), dtype="Int64")
    out[mask.to_numpy()] = pd.NA
    return out


# Spark's applyInPandas boundary converts nullable int columns to
# float64 (rounding |v| > 2^53) and nested int leaves likewise (ADVICE
# r02).  The encode kernels therefore take their input through
# applyInArrow / mapInArrow and convert Arrow -> pandas THEMSELVES:
# nullable ints map to pandas' exact Int* extension dtypes, nested
# trees stay python objects via to_pylist — bit-exact end to end.
_PA_NULLABLE_INTS = {
    pa.int64(): pd.Int64Dtype(),
    pa.int32(): pd.Int32Dtype(),
    pa.int16(): pd.Int16Dtype(),
    pa.int8(): pd.Int8Dtype(),
}


def _table_to_pdf(
    tbl: pa.Table, spec: list[tuple[str, str]], content_col: str | None
) -> tuple[pd.DataFrame, pa.Array | None]:
    """(pandas frame, content column as a large_utf8 Arrow array or
    None).  A plain-string content column never becomes pandas at all —
    its python-string materialization was the single largest encode
    cost (measured ~32 s for the 2 GB fixture at 1 core in round 2)."""
    ddls = dict(spec)
    cols: dict[str, pd.Series] = {}
    content = None
    for name in tbl.schema.names:
        col = tbl.column(name)
        ddl = ddls.get(name, "")
        if name == content_col and ddl == "string":
            one = col.combine_chunks()
            # Spark ships strings as utf8 (int32 offsets); the buffer
            # views/kernels expect large_utf8 — cast once (data shared)
            content = one if one.type == pa.large_utf8() else one.cast(pa.large_utf8())
        elif ddl.startswith(("struct<", "array<", "map<")):
            if ddl != "array<string>":
                # nested trees stay Arrow end-to-end: the NESTED codec
                # consumes the array directly (kernels/nested._input_arrow),
                # so no python list/dict is ever materialized on encode —
                # and bigints past 2^53 / NaN-vs-null survive by
                # construction (round-6)
                one = col.combine_chunks()
                cols[name] = pd.Series(
                    pd.arrays.ArrowExtensionArray(one), dtype=pd.ArrowDtype(one.type)
                )
            else:
                # array<string> routes to STRLIST, which takes exact
                # python lists
                cols[name] = pd.Series(col.to_pylist(), dtype=object)
        elif ddl == "timestamp":
            s = col.to_pandas()
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_localize(None)  # session-local wall time
            cols[name] = s
        else:
            cols[name] = col.to_pandas(types_mapper=_PA_NULLABLE_INTS.get)
    return pd.DataFrame(cols), content


def _float_sortable(a: np.ndarray) -> np.ndarray:
    """IEEE-754 doubles -> int64s whose SIGNED integer order IS the
    floats' numeric order: non-negatives keep their bit pattern
    (already ascending, sign bit 0), negatives flip their low 63 bits
    (reversing their descending bit order while the set sign bit keeps
    them below every non-negative).  Lets float/double columns share
    the existing (zmin, zmax) long zone columns instead of growing the
    block schema by another typed pair."""
    v = a.view(np.int64)
    return v ^ ((v >> 63) & np.int64(0x7FFFFFFFFFFFFFFF))


def _float_zone(s: pd.Series) -> tuple[int | None, int | None]:
    """(zmin, zmax) for a float/double column in sortable-int64 space;
    NaNs and nulls are excluded (like nulls on int columns), so an
    all-NaN/null block stays unprunable."""
    a = s.to_numpy(dtype=np.float64, na_value=np.nan)
    a = a[~np.isnan(a)]
    if len(a) == 0:
        return None, None
    # canonicalize signed zeros: Spark/Python compare -0.0 == +0.0 but
    # _float_sortable maps them to -1 and 0 — a block whose max is -0.0
    # must not be pruned by where=(col, 0.0, None).  Mirrored in _zbound.
    a = np.where(a == 0.0, 0.0, a)
    st = _float_sortable(a)
    return int(st.min()), int(st.max())


_SZONE_PREFIX = 64


def _string_zone(arr: pa.Array) -> tuple[str | None, str | None]:
    """(smin, smax) zone bounds for a string column, or None when a
    bound can't be recorded safely.

    Collation safety: Spark 4's default UTF8_BINARY collation compares
    UTF-8 BYTES, and UTF-8 was designed so byte order EQUALS code-point
    order — which is also the order Arrow's min_max uses here and the
    order Python string comparison applies.  All four agree for every
    valid string (verified by test_string_zone_collation_adversarial,
    whose emoji probe distinguishes this order from legacy UTF-16
    code-unit order), so bounds are recorded for ANY string, non-ASCII
    included — unicode repo/path/language columns prune like ASCII
    ones.  The engine pins the binary collation (session.py does not
    override spark.sql.collation.defaultCollation); a deployment that
    overrides the session default to a case-/accent-insensitive
    collation changes residual-filter semantics and must drop zone
    bounds — that interlock is the collation test's job, not a per-value
    gate (an ASCII-only gate would not survive UTF8_LCASE either:
    'B' < 'a' flips under case folding for pure-ASCII values too).

    Bounded metadata: values truncate to a 64-code-point prefix.  A
    prefix of the min is still a valid lower bound; for the max the
    last incrementable code point of the prefix is bumped (strictly
    above everything sharing the prefix under code-point order),
    skipping the surrogate gap [U+D800, U+DFFF] which UTF-8 cannot
    carry; if every prefix position is U+10FFFF the bound drops to
    null (unprunable side).
    """
    if len(arr) == 0 or arr.null_count == len(arr):
        return None, None
    mm = pc.min_max(arr)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()

    def _bound(v: str, is_max: bool) -> str | None:
        if len(v) <= _SZONE_PREFIX:
            return v
        p = v[:_SZONE_PREFIX]
        if not is_max:
            return p
        for i in range(len(p) - 1, -1, -1):
            c = ord(p[i])
            if c < 0x10FFFF:
                nc = c + 1
                if 0xD800 <= nc <= 0xDFFF:
                    nc = 0xE000
                return p[:i] + chr(nc)
        return None

    return _bound(lo, False), _bound(hi, True)


def _encode_typed(
    s: pd.Series, ddl: str
) -> tuple[str, bytes, int, int | None, int | None]:
    """Encode one non-string column; returns (codec, buf, raw_bytes,
    zmin, zmax).  The zone map (min/max of the int64 STORAGE values,
    nulls excluded; None for non-int and all-null columns) lands on the
    block row so ``decode(where=...)`` prunes whole partitions from the
    block table — the A13 Range semantics turned into an actual
    pushed-down scan bound."""
    if ddl == "array<string>":
        return (
            "strlist",
            mapdelta_kernel.encode_strlist(s),
            mapdelta_kernel.strlist_raw_bytes(s),
            None,
            None,
        )
    if ddl not in _WIDTHS:  # struct<...> / array<...> / map<...> tree
        from ..kernels import nested as nested_kernel

        return (
            "nested",
            nested_kernel.encode_nested(s, ddl),
            nested_kernel.nested_raw_bytes(s, ddl),
            None,
            None,
        )
    raw = _WIDTHS[ddl] * len(s)
    if ddl in ("float", "double"):
        zmin, zmax = _float_zone(s)
        return "fp", floats.encode_fp(s, width=_WIDTHS[ddl]), raw, zmin, zmax
    st = _storage_int64(s, ddl)
    zmin, zmax = st.min(), st.max()
    return (
        "dint",
        api.encode_block(st, "dint"),
        raw,
        None if pd.isna(zmin) else int(zmin),
        None if pd.isna(zmax) else int(zmax),
    )


def _group_starts(gsizes: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(gsizes)[:-1])).astype(np.int64)


def _encode_content(
    arr: pa.Array,
    gsizes: np.ndarray,
    keyframe_interval: int,
    level,
    base_texts: list | None,
    base_versions: np.ndarray | None,
    view: tuple,
) -> tuple[str, bytes]:
    """CHAIN-encode the content column; fall back to whole-column PLAIN
    only when a cheap zstd bound says PLAIN could plausibly win.

    The full PLAIN trial used to run unconditionally — an honest but
    ~2x CPU cost on the dominant column.  The gate compresses a
    contiguous prefix sample (whole chains, so zstd sees the same
    cross-version redundancy) and extrapolates; the full trial runs
    only when the bound lands within 30% of CHAIN's actual size.
    """
    buf = chain_kernel.encode_chain(
        arr, gsizes, keyframe_interval=keyframe_interval, level=level,
        base_texts=base_texts, base_versions=base_versions,
    )
    if base_texts is not None and any(t is not None for t in base_texts):
        # a seeded fragment must stay CHAIN: whole-column PLAIN can't
        # continue chains and seeded deltas are near-minimal anyway
        return "chain", buf
    data = view[1]
    sample = data[: max(4096, len(data) // 8)]
    if sample:
        est_plain = len(blocks_mod.compress(sample, level)) / len(sample) * len(data)
    else:
        est_plain = 0.0
    if est_plain < len(buf) * 1.3:
        plain_buf = strings.encode_plain_arrow(arr)
        if len(plain_buf) < len(buf):
            return "plain", plain_buf
    return "chain", buf


def _encode_rows(
    pdf: pd.DataFrame,
    part_id: int,
    frag_id: int,
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    content_col: str | None,
    keyframe_interval: int,
    level,
    run_id: str,
    t0: float,
    tails: dict | None,
    tail_counts: dict | None,
    content_arr: pa.Array | None,
) -> list[tuple]:
    """Encode one sorted part into per-column block rows.

    tails / tail_counts (from decoded prior fragments) seed chain groups
    that continue an existing (key...) chain — the incremental
    ``push_snapshot`` path (delta.rs:108-125).  content_arr is the
    part's content column, sorted like pdf and still Arrow, so the
    dominant column never becomes python strings."""
    out = []
    keys = _key_series(pdf, key_cols)
    gsizes = _group_sizes(keys)
    base_texts = None
    base_versions = None
    if tails:
        starts = _group_starts(gsizes)
        gkeys = keys.to_numpy(dtype=object)[starts] if len(starts) else []
        base_texts = [tails.get(k) for k in gkeys]
        base_versions = np.array(
            [tail_counts.get(k, 0) if tails.get(k) is not None else 0 for k in gkeys],
            dtype=np.int64,
        )
    for col, ddl in spec:
        zmin = zmax = None
        smin = smax = None
        blm = sha = None
        if col == content_col and content_arr is not None:
            view = strings.arrow_utf8_view(content_arr)
            raw = int(view[0].sum())
            if len(gsizes) < len(content_arr) or tails:
                codec, buf = _encode_content(
                    content_arr, gsizes, keyframe_interval, level,
                    base_texts, base_versions, view,
                )
            else:  # no multi-version chains: plain selector path
                codec, _stats, buf = selector.select_and_encode(
                    content_arr.to_pandas().astype(object)
                )
            sha = api.sha256_column_arrow(content_arr, view)
        elif ddl == "string":
            # one Arrow conversion shared by raw-size, the zone map and
            # the Bloom filter
            arr = pa.Array.from_pandas(pdf[col], type=pa.large_utf8())
            raw = int(strings.arrow_utf8_view(arr)[0].sum())
            codec, _stats, buf = selector.select_and_encode(pdf[col])
            # dimension-style string columns (repo/path/lang) get
            # (smin, smax) zone bounds — the dominant predicate class
            # over a code corpus ("this repo only"); chained content
            # bodies don't (not a range-predicate target)
            smin, smax = _string_zone(arr)
            # high-cardinality dims (commit/path) additionally get a
            # Bloom filter: zones answer ranges, blooms answer the point
            # probes hash-like columns can't zone-prune
            blm = bloom_kernel.bloom_build(arr)
        elif ddl == "map<string,string>":
            # keyed Add/Edit/Remove chains over the same group layout the
            # content column uses (reference HashMap::delta)
            codec = "mapdelta"
            buf = mapdelta_kernel.encode_mapdelta(
                pdf[col], gsizes, keyframe_interval=keyframe_interval, level=level
            )
            raw = mapdelta_kernel.map_raw_bytes(pdf[col])
        else:
            codec, buf, raw, zmin, zmax = _encode_typed(pdf[col], ddl)
        out.append(
            (part_id, frag_id, col, codec, buf, len(pdf), raw, len(buf), sha,
             time.time() - t0, run_id, zmin, zmax, smin, smax, blm)
        )
    return out


def _block_arrow_schema() -> pa.Schema:
    return pa.schema(
        [
            ("part_id", pa.int64()), ("frag_id", pa.int64()),
            ("column", pa.string()), ("codec", pa.string()),
            ("payload", pa.binary()), ("n_rows", pa.int64()),
            ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
            ("sha256", pa.string()), ("wall_s", pa.float64()),
            ("run_id", pa.string()),
            ("zmin", pa.int64()), ("zmax", pa.int64()),
            ("smin", pa.string()), ("smax", pa.string()),
            ("bloom", pa.binary()),
        ]
    )


def _block_table(rows: list[tuple]) -> pa.Table:
    """Block rows -> Arrow table, column by column with exact types (a
    pandas frame would infer a None+int zone column as float64 and
    silently truncate |v| >= 2^53 — the lossy boundary ADVICE r02
    closed on the data path)."""
    schema = _block_arrow_schema()
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _error_row(part_id: int, frag_id: int, n_rows: int, exc: Exception, run_id: str, t0: float) -> tuple:
    """A failed partition becomes one manifest-visible error record —
    "fail the partition, not the job" (reference taxonomy error.rs)."""
    msg = f"{type(exc).__name__}: {exc}".encode("utf-8", "replace")[:4096]
    return (part_id, frag_id, "*", "error", msg, n_rows, 0, 0, None,
            time.time() - t0, run_id, None, None, None, None, None)


def _encode_table(
    tbl: pa.Table,
    frag_id: int,
    *,
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
    keyframe_interval: int,
    level: int | None,
    run_id: str,
    fail_inject: str | None,
    prior: pd.DataFrame | None = None,
) -> list[tuple]:
    """The encode core behind the grouped, clustered and append kernels:
    every part_id in ``tbl`` becomes one fragment ``frag_id`` of block
    rows.

    One stable sort on (part_id, key..., order...) makes each part a
    contiguous slice (the content column is sliced, not copied) with
    each key's chain contiguous and in version order inside it.
    ``prior`` holds the block rows the table's part already has
    (append): their decoded chain tails seed the new fragment.  A part
    whose encode raises becomes one error row."""
    t0 = time.time()
    pdf, content = _table_to_pdf(tbl, spec, content_col)
    pdf = pdf.sort_values(["part_id", *key_cols, *order_cols], kind="mergesort")
    if content is not None:
        content = content.take(pa.array(pdf.index.to_numpy(dtype=np.int64)))
    pdf = pdf.reset_index(drop=True)
    ids = pdf["part_id"].to_numpy(dtype=np.int64)
    cuts = np.flatnonzero(ids[1:] != ids[:-1]) + 1
    rows: list[tuple] = []
    for lo, hi in zip([0, *cuts], [*cuts, len(ids)]) if len(ids) else ():
        part_id = int(ids[lo])
        sub = pdf if hi - lo == len(pdf) else pdf.iloc[lo:hi].reset_index(drop=True)
        try:
            if fail_inject is not None and (sub[key_cols[0]] == fail_inject).any():
                raise RuntimeError(f"injected failure for {fail_inject!r}")
            tails = tail_counts = None
            if prior is not None:
                _rows, tails, tail_counts = _decode_fragments(
                    prior, spec, key_cols, content_col
                )
            rows.extend(
                _encode_rows(
                    sub, part_id, frag_id, spec, key_cols, content_col,
                    keyframe_interval, level, run_id, t0, tails, tail_counts,
                    None if content is None else content.slice(lo, hi - lo),
                )
            )
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            rows.append(_error_row(part_id, frag_id, hi - lo, exc, run_id, t0))
    return rows


def make_encode_kernel(
    keyframe_interval: int = 32,
    level: int | None = None,
    spec: list[tuple[str, str]] | None = None,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    order_cols: tuple[str, ...] = DEFAULT_ORDER_COLS,
    content_col: str | None = DEFAULT_CONTENT_COL,
    run_id: str = "local",
    fail_inject: str | None = None,
):
    """applyInArrow kernel for *grouped* mode and compact: one part_id
    per call, encoded as fragment 0."""
    encode = functools.partial(
        _encode_table, spec=spec or DEFAULT_SPEC, key_cols=key_cols,
        order_cols=order_cols, content_col=content_col,
        keyframe_interval=keyframe_interval, level=level, run_id=run_id,
        fail_inject=fail_inject,
    )

    def encode_partition(tbl: pa.Table) -> pa.Table:
        return _block_table(encode(tbl, 0))

    return encode_partition


def make_fragment_kernel(
    keyframe_interval: int = 32,
    level: int | None = None,
    spec: list[tuple[str, str]] | None = None,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    order_cols: tuple[str, ...] = DEFAULT_ORDER_COLS,
    content_col: str | None = DEFAULT_CONTENT_COL,
    run_id: str = "local",
    fail_inject: str | None = None,
):
    """mapInArrow kernel for *clustered* mode: encode each input split
    in place (no shuffle).  Each (part_id, split) slice becomes a block
    *fragment* numbered by the split.  Chains crossing split boundaries
    simply start a new keyframe — a bounded ratio cost, zero data
    movement.
    """
    encode = functools.partial(
        _encode_table, spec=spec or DEFAULT_SPEC, key_cols=key_cols,
        order_cols=order_cols, content_col=content_col,
        keyframe_interval=keyframe_interval, level=level, run_id=run_id,
        fail_inject=fail_inject,
    )

    def encode_split(batches):
        from pyspark import TaskContext

        tables = list(batches)
        if not tables:
            return
        ctx = TaskContext.get()
        frag_id = ctx.partitionId() if ctx else 0
        yield from _block_table(encode(pa.Table.from_batches(tables), frag_id)).to_batches()

    return encode_split


# ----------------------------------------------------- schema/manifest IO ----


def _write_table_spec(
    spark: SparkSession,
    out_dir: str,
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
) -> None:
    rows = [
        (i, name, ddl, name in key_cols, name in order_cols, name == content_col)
        for i, (name, ddl) in enumerate(spec)
    ]
    # via pandas: Arrow-path createDataFrame + a single write task.  The
    # list-of-tuples path parallelizes into defaultParallelism pickled
    # slices and coalesce(1) then evaluates all of them serially through
    # Python workers — ~6 s of pure overhead for a KB of metadata.
    pdf = pd.DataFrame(
        rows, columns=["pos", "name", "ddl", "is_key", "is_order", "is_content"]
    )
    spark.createDataFrame(
        pdf,
        "pos int, name string, ddl string, is_key boolean, is_order boolean, is_content boolean",
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(out_dir, "schema"))


def read_table_spec(spark: SparkSession, out_dir: str) -> dict:
    rows = sorted(
        spark.read.parquet(os.path.join(out_dir, "schema")).collect(),
        key=lambda r: r["pos"],
    )
    return {
        "spec": [(r["name"], r["ddl"]) for r in rows],
        "key_cols": tuple(r["name"] for r in rows if r["is_key"]),
        "order_cols": tuple(r["name"] for r in rows if r["is_order"]),
        "content_col": next((r["name"] for r in rows if r["is_content"]), None),
    }


def _manifest_active(
    spark: SparkSession, manifest_path: str, as_of_gen: int | None = None
) -> DataFrame:
    """The manifest's active rows per part_id: the latest "replace"
    generation plus every later "append" generation (incremental batches
    extending that base).  Earlier replace rows and appends that a newer
    replace superseded (compaction) drop out.

    The replace anchor coalesces to -1 (gens are time_ns, so always
    greater): a part_id whose ONLY generations are appends — new keys
    hashing into a bucket the base run left empty — has no replace row,
    and a NULL anchor would silently filter those appends out (the
    ADVICE r02 data-loss scenario).

    as_of_gen is TIME TRAVEL: resolve the table as it stood at that
    manifest generation (gens are commit timestamps in ns) — later
    replaces/appends are invisible, so any historical snapshot stays
    readable until a vacuum reclaims its blocks."""
    m = spark.read.parquet(manifest_path)
    if as_of_gen is not None:
        m = m.filter(F.col("gen") <= int(as_of_gen))
    w = Window.partitionBy("part_id")
    last_rep = F.coalesce(
        F.max(F.when(F.col("kind") == "replace", F.col("gen"))).over(w),
        F.lit(-1).cast("long"),
    )
    return (
        m.withColumn("_lr", last_rep)
        .filter(
            ((F.col("kind") == "replace") & (F.col("gen") == F.col("_lr")))
            | ((F.col("kind") == "append") & (F.col("gen") > F.col("_lr")))
        )
        .drop("_lr")
    )


def _write_partition_map(
    spark: SparkSession, out_dir: str, salt_map, base: int, n_small: int
) -> None:
    rows = [(g, b, s) for g, b, s in salt_map] + [(None, base, n_small)]
    # pandas/Arrow single-partition write — see _write_table_spec.
    pdf = pd.DataFrame(rows, columns=["grp", "base_id", "n_salts"])
    spark.createDataFrame(
        pdf, "grp string, base_id long, n_salts long"
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(out_dir, "partmap"))


def _read_partition_map(spark: SparkSession, out_dir: str):
    """Collect the persisted partition map to the driver.

    Headroom bound: the map has one row per SALTED GIANT group (plus a
    sentinel), at most total_rows / target_rows entries — i.e. it is
    partitions-sized, not data-sized.  At 100 TB with sane partition
    sizing (>= 100 MB per partition) that is <= ~10^6 rows of
    (string, long, long) — tens of MB on the driver, same order as
    Spark's own file-listing state.  Pinned by the 10^5-partition
    smoke test (test_partition_count_headroom_100k), not assumed."""
    rows = spark.read.parquet(os.path.join(out_dir, "partmap")).collect()
    salt_map = [
        (r["grp"], r["base_id"], r["n_salts"]) for r in rows if r["grp"] is not None
    ]
    salt_map.sort(key=lambda t: t[1])
    sentinel = next(r for r in rows if r["grp"] is None)
    return salt_map, int(sentinel["base_id"]), int(sentinel["n_salts"])


def _infer_order_cols(cols: list[str]) -> tuple[str, ...]:
    """Rank linearization default: a timestamp-ish column first, commit
    as tie-break — content-hash commit ids alone would scramble chains."""
    order = tuple(c for c in ("ts", "commit") if c in cols)
    return order or tuple(cols[-1:])


def encode(
    spark: SparkSession,
    source: DataFrame | str,
    out_dir: str,
    target_rows: int = DEFAULT_TARGET_ROWS,
    keyframe_interval: int = 32,
    resume: bool = True,
    mode: str = "grouped",
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    order_cols: tuple[str, ...] | None = None,
    content_col: str | None = "auto",
    level: int | None = None,
    origin: str | None = None,
    message: str | None = None,
    _fail_inject: str | None = None,
) -> DataFrame:
    """Run J1; returns the manifest head (latest gen per part_id).

    origin / message are caller-supplied commit metadata recorded on the
    run's manifest rows and surfaced by ``history()`` — the reference's
    ``DeltaSnapshot { timestamp, origin, msg }`` surface
    (/root/reference/deltoid/src/snapshot/full.rs:164-170); the
    timestamp analog is the time-derived ``gen``.

    mode="grouped" (default): one shuffle co-locates each part_id, so
    every key-group chain is delta-encoded whole, and resume works at
    partition granularity.  mode="clustered": zero-shuffle map-side
    encode for inputs already clustered by key_cols — e.g. re-encode
    of previously written Iceberg state; each input split becomes block
    fragments (chains crossing splits restart at a keyframe).  Shuffle
    traffic drops from raw bytes to zero; use for ingest-bandwidth-bound
    clusters.  run_id tagging makes re-runs safe in both modes: decode
    only ever sees one run's fragments per partition.
    """
    df = spark.read.parquet(source) if isinstance(source, str) else source
    spec = table_spec(df)
    cols = [name for name, _ in spec]
    for k in key_cols:
        if k not in cols:
            raise ValueError(f"key column {k!r} not in input schema {cols}")
    if order_cols is None:
        order_cols = _infer_order_cols([c for c in cols if c not in key_cols])
    if content_col == "auto":
        content_col = DEFAULT_CONTENT_COL if DEFAULT_CONTENT_COL in cols else None

    blocks_path = os.path.join(out_dir, "blocks")
    manifest_path = os.path.join(out_dir, "manifest")
    if _exists(spark, os.path.join(out_dir, "schema")):
        stored = read_table_spec(spark, out_dir)
        if stored["spec"] != spec:
            raise ValueError(
                f"out_dir already holds a different table spec "
                f"{stored['spec']}; refusing to mix schemas (got {spec})"
            )
    else:
        _write_table_spec(spark, out_dir, spec, key_cols, order_cols, content_col)

    # the partition map persists so a resume (and any later append run)
    # reuses the ORIGINAL part_id layout instead of re-deriving one
    if _exists(spark, os.path.join(out_dir, "partmap")):
        salt_map, pbase, n_small = _read_partition_map(spark, out_dir)
    else:
        salt_map, pbase, n_small = build_partition_map(
            df.select(*cols), target_rows, key_cols
        )
        _write_partition_map(spark, out_dir, salt_map, pbase, n_small)
    df = apply_partition_map(df.select(*cols), salt_map, pbase, n_small, key_cols)

    if resume and _exists(spark, manifest_path):
        committed = (
            _manifest_active(spark, manifest_path)
            .filter((F.col("kind") == "replace") & (F.col("status") == "committed"))
            .select("part_id")
        )
        df = df.join(F.broadcast(committed), "part_id", "left_anti")

    run_id = uuid.uuid4().hex
    gen = time.time_ns()
    kw = dict(
        keyframe_interval=keyframe_interval, level=level, spec=spec,
        key_cols=key_cols, order_cols=order_cols, content_col=content_col,
        run_id=run_id, fail_inject=_fail_inject,
    )
    if mode == "clustered":
        blocks = df.mapInArrow(make_fragment_kernel(**kw), BLOCK_SCHEMA)
    else:
        # applyInArrow, not applyInPandas: the kernel owns the Arrow ->
        # pandas conversion (exact nullable ints, exact nested trees)
        blocks = df.groupBy("part_id").applyInArrow(make_encode_kernel(**kw), BLOCK_SCHEMA)
    _write_blocks(blocks, blocks_path)

    # manifest rows for THIS run only (from the tiny written blocks
    # table: one metadata-sized scan, no re-encode), appended with a new
    # generation — readers resolve each part to its latest gen
    _manifest_rows_for_run(
        spark, out_dir, run_id, gen, spec, "replace", origin=origin, message=message
    )
    return _manifest_active(spark, manifest_path)


def vacuum(spark: SparkSession, out_dir: str) -> dict:
    """Reclaim block rows no active manifest entry references.

    Superseded generations (resumed replaces, compacted appends, torn
    runs) leave dead fragments in blocks/.  Vacuum rewrites blocks and
    manifest down to the active committed set and swaps the directories.
    Maintenance operation: requires exclusive access to out_dir (the
    swap is two renames; a concurrent reader could see the gap), exactly
    like table-format vacuums.
    """
    import shutil

    blocks_path = os.path.join(out_dir, "blocks")
    manifest_path = os.path.join(out_dir, "manifest")
    active = (
        _manifest_active(spark, manifest_path)
        .filter(F.col("status") == "committed")
        .cache()
    )
    blocks = _read_blocks(spark, blocks_path)
    before = blocks.agg(
        F.count("*").alias("n"), F.sum("enc_bytes").alias("b")
    ).collect()[0]
    keep = blocks.join(
        F.broadcast(active.select("part_id", "run_id")), ["part_id", "run_id"], "left_semi"
    )
    tmp_blocks = blocks_path + "_vacuum"
    tmp_manifest = manifest_path + "_vacuum"
    # keep the hive run_id layout — a flat rewrite would clash with the
    # partitioned directories later appends create
    keep.write.mode("overwrite").option("compression", "none").partitionBy(
        "run_id"
    ).parquet(tmp_blocks)
    os.makedirs(tmp_blocks, exist_ok=True)  # fully-dead state writes nothing
    active.write.mode("overwrite").parquet(tmp_manifest)
    after = spark.read.parquet(tmp_blocks).agg(
        F.count("*").alias("n"), F.sum("enc_bytes").alias("b")
    ).collect()[0]
    active.unpersist()
    for live, tmp in ((blocks_path, tmp_blocks), (manifest_path, tmp_manifest)):
        old = live + "_old"
        os.rename(live, old)
        os.rename(tmp, live)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "block_rows_before": int(before["n"]),
        "block_rows_after": int(after["n"]),
        "bytes_reclaimed": int((before["b"] or 0) - (after["b"] or 0)),
    }


def _read_blocks(spark: SparkSession, blocks_path: str) -> DataFrame:
    """Typed read of the blocks dir; an all-empty run (partitionBy on an
    empty frame) writes no files at all, which reads as an empty table.

    mergeSchema: appends from newer versions may carry columns (zmin/
    zmax/smin/smax zone maps) that pre-existing footers lack — without
    merging, the inferred schema depends on which footer Spark samples,
    so pruning would nondeterministically disappear and a vacuum rewrite
    could permanently drop the zone-map columns."""
    if _exists(spark, blocks_path):
        return spark.read.option("mergeSchema", "true").parquet(blocks_path)
    return spark.createDataFrame([], BLOCK_SCHEMA)


def _write_blocks(blocks: DataFrame, blocks_path: str) -> None:
    # payloads are already zstd'd — parquet re-compression (snappy) would
    # burn CPU + memory bandwidth on the dominant column for ~0 size win.
    # Files partition by run_id so per-run reads (the manifest rebuild)
    # and active-run filters (decode) prune whole directories instead of
    # scanning every historical run's blocks.
    blocks.write.mode("append").option("compression", "none").partitionBy(
        "run_id"
    ).parquet(blocks_path)


def _exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one data file.

    Driver-side Hadoop FS metadata walk (works for any scheme the
    session can read) — the round-2 version ran a ``limit(1).collect()``
    Spark ACTION per call, several times per job.  Marker files
    (_SUCCESS etc.) don't count: a directory holding only those is not
    readable as parquet, matching the old semantics.
    """
    try:
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return False
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            f = it.next()
            if not f.getPath().getName().startswith(("_", ".")):
                return True
        return False
    except Exception:
        return False


# -------------------------------------------------- incremental append ----


def _manifest_rows_for_run(
    spark: SparkSession, out_dir: str, run_id: str, gen: int,
    spec: list[tuple[str, str]], kind: str, batch_id: str | None = None,
    origin: str | None = None, message: str | None = None,
) -> None:
    """Aggregate this run's written blocks into manifest rows (append)."""
    written = (
        _read_blocks(spark, os.path.join(out_dir, "blocks"))
        .filter(F.col("run_id") == run_id)
        .dropDuplicates(["part_id", "frag_id", "column"])
    )
    cols = [name for name, _ in spec]
    first_col = spec[0][0]
    manifest = written.groupBy("part_id").agg(
        F.sum(
            F.when(F.col("column").isin(first_col, "*"), F.col("n_rows")).otherwise(0)
        ).alias("n_rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.to_json(
            F.create_map(
                *[
                    part
                    for c in cols
                    for part in (
                        F.lit(c),
                        F.min(F.when(F.col("column") == c, F.col("codec"))),
                    )
                ]
            )
        ).alias("codecs"),
        F.max("sha256").alias("content_sha256"),
        F.max("wall_s").alias("wall_s"),
        F.when(
            F.sum(F.when(F.col("codec") == "error", 1).otherwise(0)) > 0, "failed"
        ).otherwise("committed").alias("status"),
        F.max(
            F.when(F.col("codec") == "error", F.col("payload").cast("string"))
        ).alias("error"),
        F.lit(run_id).alias("run_id"),
        F.lit(gen).alias("gen"),
        F.lit(kind).alias("kind"),
        F.lit(batch_id).cast("string").alias("batch_id"),
        F.lit(origin).cast("string").alias("origin"),
        F.lit(message).cast("string").alias("msg"),
    )
    manifest.write.mode("append").parquet(os.path.join(out_dir, "manifest"))


def make_append_kernel(
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    content_col: str | None,
    keyframe_interval: int,
    level: int | None,
    run_id: str,
    fail_inject: str | None = None,
):
    """Cogroup kernel: (new rows, existing active blocks) per part_id.

    Decodes the partition's existing fragments executor-side to recover
    each chain's tail text and version count, then encodes the new rows
    as a continuation fragment whose chain groups delta against those
    tails (reference ``push_snapshot``, delta.rs:108-125).
    """
    encode = functools.partial(
        _encode_table, spec=spec, key_cols=key_cols, order_cols=order_cols,
        content_col=content_col, keyframe_interval=keyframe_interval,
        level=level, run_id=run_id, fail_inject=fail_inject,
    )

    def append_partition(left_t: pa.Table, right_t: pa.Table) -> pa.Table:
        prior = right_t.to_pandas()  # block rows: binary payloads, exact
        frag_id = int(prior["frag_id"].max()) + 1 if len(prior) else 0
        return _block_table(encode(left_t, frag_id, prior=prior))

    return append_partition


def encode_append(
    spark: SparkSession,
    source: DataFrame | str,
    out_dir: str,
    keyframe_interval: int = 32,
    level: int | None = None,
    batch_id: str | None = None,
    origin: str | None = None,
    message: str | None = None,
    _fail_inject: str | None = None,
) -> DataFrame:
    """Incrementally encode a new batch into existing state (A18).

    origin / message: commit metadata on the manifest rows (see
    ``encode``), shown by ``history()``.

    New rows join their partitions via the persisted partition map;
    each touched partition's existing blocks cogroup with the new rows
    so chains EXTEND (delta against the stored tail) instead of
    restarting at keyframes.  Output is a new fragment per partition
    under a fresh run_id + manifest generation of kind="append".

    batch_id makes retries idempotent (ADVICE r02): the id is recorded
    on the manifest rows, and a re-run of the same batch skips every
    partition that already committed under that id — so a partially
    failed append (some partitions committed, some failed) can simply
    be re-run without duplicating the committed partitions' rows.
    Without a batch_id a re-run appends everything again (documented:
    the reference's push_snapshot has the same at-least-once shape).
    """
    df = spark.read.parquet(source) if isinstance(source, str) else source
    info = read_table_spec(spark, out_dir)
    spec, key_cols = info["spec"], info["key_cols"]
    cols = [name for name, _ in spec]
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = dict(spec)
    if {k: got.get(k) for k in want} != want:
        raise ValueError(f"append batch schema {got} != stored spec {want}")

    salt_map, pbase, n_small = _read_partition_map(spark, out_dir)
    dfp = apply_partition_map(df.select(*cols), salt_map, pbase, n_small, key_cols)

    if batch_id is not None:
        already = (
            spark.read.parquet(os.path.join(out_dir, "manifest"))
            .filter(
                (F.col("kind") == "append")
                & (F.col("status") == "committed")
                & (F.col("batch_id") == batch_id)
            )
            .select("part_id")
            .distinct()
        )
        dfp = dfp.join(F.broadcast(already), "part_id", "left_anti")

    touched = dfp.select("part_id").distinct()
    # refuse to append onto a FAILED base: the appended generation would
    # be superseded (and its rows stranded) the moment a healing
    # re-encode writes a newer replace generation for the partition
    failed = (
        _manifest_active(spark, os.path.join(out_dir, "manifest"))
        .filter((F.col("kind") == "replace") & (F.col("status") == "failed"))
        .join(F.broadcast(touched), "part_id", "left_semi")
        .select("part_id")
        .limit(20)
        .collect()
    )
    if failed:
        raise ValueError(
            f"partitions {sorted(r['part_id'] for r in failed)} have a failed "
            "base encode; re-run encode() to heal them before appending"
        )
    existing = _active_blocks(spark, out_dir).join(
        F.broadcast(touched), "part_id", "left_semi"
    )

    run_id = uuid.uuid4().hex
    gen = time.time_ns()
    kernel = make_append_kernel(
        spec, key_cols, info["order_cols"], info["content_col"],
        keyframe_interval, level, run_id, fail_inject=_fail_inject,
    )
    new_blocks = (
        dfp.groupBy("part_id")
        .cogroup(existing.groupBy("part_id"))
        .applyInArrow(kernel, BLOCK_SCHEMA)
    )
    _write_blocks(new_blocks, os.path.join(out_dir, "blocks"))
    _manifest_rows_for_run(
        spark, out_dir, run_id, gen, spec, "append", batch_id,
        origin=origin, message=message,
    )
    return _manifest_active(spark, os.path.join(out_dir, "manifest"))


def compact(
    spark: SparkSession,
    out_dir: str,
    origin: str | None = None,
    message: str | None = None,
) -> DataFrame:
    """Re-encode partitions that have accumulated append fragments into a
    single fresh fragment (A17: the codec selector re-runs over the full
    partition, so a drifted column switches codec wholesale — the
    cross-variant full re-encode of gen/enums.rs:544-550).

    Old blocks stay on disk but drop out of the manifest resolution
    (the new kind="replace" generation supersedes them); a vacuum pass
    can reclaim them.
    """
    info = read_table_spec(spark, out_dir)
    manifest_path = os.path.join(out_dir, "manifest")
    multi = (
        _manifest_active(spark, manifest_path)
        .filter(F.col("status") == "committed")  # never fold failed rows in
        .groupBy("part_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("part_id")
    )
    if not multi.take(1):
        return _manifest_active(spark, manifest_path)

    rows = decode(spark, out_dir, with_part_id=True).join(
        F.broadcast(multi), "part_id", "left_semi"
    )
    run_id = uuid.uuid4().hex
    gen = time.time_ns()
    kernel = make_encode_kernel(
        spec=info["spec"], key_cols=info["key_cols"],
        order_cols=info["order_cols"], content_col=info["content_col"],
        run_id=run_id,
    )
    blocks = rows.groupBy("part_id").applyInArrow(kernel, BLOCK_SCHEMA)
    _write_blocks(blocks, os.path.join(out_dir, "blocks"))
    _manifest_rows_for_run(
        spark, out_dir, run_id, gen, info["spec"], "replace",
        origin=origin, message=message or "compact",
    )
    return _manifest_active(spark, manifest_path)


# ------------------------------------------------------------- J2 decode ----


def _from_storage(s: pd.Series, ddl: str) -> pd.Series:
    """Cast a decoded storage series back to the column's pandas shape."""
    if ddl == "string" or ddl.startswith(("map<", "array<", "struct<")):
        if isinstance(s.dtype, pd.ArrowDtype):
            return s  # Arrow-backed column: crosses the boundary as-is
        return s.astype(object) if len(s) else pd.Series([], dtype=object)
    if ddl in ("float", "double"):
        return s  # FP codec already yields Float32/Float64 nullable
    vals = s.astype("Int64")
    mask = vals.isna().to_numpy()
    raw = vals.fillna(0).astype("int64")
    if ddl == "timestamp":
        out = pd.Series(raw.to_numpy().astype("datetime64[ns]"))
        out[mask] = pd.NaT
        return out
    if ddl == "date":
        out = pd.Series((raw.to_numpy() * _NS_PER_DAY).astype("datetime64[ns]")).dt.date
        out = out.astype(object)
        out[mask] = None
        return out
    if ddl == "boolean":
        out = vals.astype("boolean")
        return out
    pd_type = {"bigint": "Int64", "int": "Int32", "smallint": "Int16", "tinyint": "Int8"}[ddl]
    return vals.astype(pd_type)


def _decode_fragments(
    pdf: pd.DataFrame,
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    content_col: str | None,
) -> tuple[pd.DataFrame, dict, dict]:
    """Decode one partition's block rows fragment by fragment, threading
    chain tails: a fragment appended by a later run (higher gen) may
    seed its chain groups from earlier fragments' last versions.

    Returns (rows_df, tails, tail_counts) so the append kernel can reuse
    the threaded state directly.
    """
    names = [n for n, _ in spec]
    if "gen" not in pdf.columns:
        pdf = pdf.assign(gen=0)
    pdf = pdf.drop_duplicates(subset=["gen", "part_id", "frag_id", "column"]).sort_values(
        ["gen", "frag_id", "column"], kind="mergesort"
    )
    frames: list[pd.DataFrame] = []
    tails: dict = {}
    tail_counts: dict = {}
    for (_gen, _frag), sub in pdf.groupby(["gen", "frag_id"], sort=True):
        bufs = {
            r["column"]: bytes(r["payload"])
            for _, r in sub.iterrows()
            if r["column"] in names
        }
        if not bufs:
            continue  # error rows only (excluded upstream; belt here)
        fr: dict[str, pd.Series] = {}
        for name, ddl in spec:
            if name == content_col:
                continue
            if ddl.startswith(("struct<", "array<")) and "map<" not in ddl:
                # map-free nested trees cross the boundary Arrow-backed:
                # zero python-object materialization AND float NaN inside
                # leaves stays a value (Spark's own pandas->Arrow
                # conversion would null NaN found in object cells).
                # Map cells MUST stay python dicts — Spark's serializer
                # runs a per-cell dict converter (convert_map) on them.
                # strlist/mapdelta-coded blocks have no arrow path and
                # fall back to exact python objects.
                try:
                    a = api.decode_block_arrow(bufs[name])
                    fr[name] = pd.Series(
                        pd.arrays.ArrowExtensionArray(a), dtype=pd.ArrowDtype(a.type)
                    )
                    continue
                except ValueError:
                    pass
            fr[name] = _from_storage(api.decode_block(bufs[name]), ddl)
        if content_col is not None:
            keys = (
                _key_series(pd.DataFrame(fr), key_cols)
                if fr
                else pd.Series([], dtype=object)
            )
            gsizes = _group_sizes(keys)
            starts = _group_starts(gsizes)
            gkeys = keys.to_numpy(dtype=object)[starts] if len(starts) else []
            # Arrow-native content: the chain kernel returns a
            # LargeStringArray and the column rides to the applyInPandas
            # boundary as an Arrow-backed pandas column — Python strings
            # are materialized only for the per-group tails (chain seeds)
            seeds = [tails.get(k) for k in gkeys]
            try:
                content_arr = api.decode_block_arrow(
                    bufs[content_col], base_texts=seeds
                ).cast(pa.string())
            except ValueError:  # codec without an arrow path (dict/rle/...)
                content_arr = pa.Array.from_pandas(
                    api.decode_block(bufs[content_col], base_texts=seeds),
                    type=pa.string(),
                )
            fr[content_col] = pd.Series(
                pd.arrays.ArrowExtensionArray(content_arr), dtype=pd.ArrowDtype(pa.string())
            )
            # update threaded tails: last version per key group (keys are
            # group-contiguous, so group ends == per-key last rows)
            if len(keys):
                ends = starts + gsizes - 1
                tail_vals = content_arr.take(pa.array(ends, type=pa.int64())).to_pylist()
                tails.update(zip(gkeys, tail_vals))
                for k, c in zip(gkeys, gsizes):
                    tail_counts[k] = tail_counts.get(k, 0) + int(c)
        frames.append(pd.DataFrame({n: fr[n] for n in names}))
    if not frames:
        empty = {n: _from_storage(pd.Series([], dtype=object), ddl) for n, ddl in spec}
        return pd.DataFrame(empty), tails, tail_counts
    out = pd.concat(frames, ignore_index=True)
    return out, tails, tail_counts


def _version_select(
    out: pd.DataFrame,
    key_cols: tuple[str, ...],
    latest_only: bool,
    at_version: int | None,
) -> pd.DataFrame:
    """Version pruning: keep each key's head (latest_only) or its
    version index ``at_version`` (0-based).  Fragment replay order IS
    version order per key, so a stable comparison sort on the key
    (NUL-safe, unlike hash tables) gives group-contiguous versions."""
    if len(out) == 0:
        return out
    keys = _key_series(out, key_cols).to_numpy(dtype=object)
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    starts = np.concatenate(([True], sk[1:] != sk[:-1]))
    if latest_only:
        sel = np.concatenate((starts[1:], [True]))  # last row of each key
    else:
        run_starts = np.flatnonzero(starts)
        run_lens = np.diff(np.concatenate((run_starts, [len(sk)])))
        pos = np.arange(len(sk)) - np.repeat(run_starts, run_lens)
        sel = pos == int(at_version)
    return out.iloc[order[sel]]


def make_decode_kernel(
    spec: list[tuple[str, str]],
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    content_col: str | None = DEFAULT_CONTENT_COL,
    out_names: list[str] | None = None,
    latest_only: bool = False,
    at_version: int | None = None,
    on_error: str = "raise",
):
    names = out_names if out_names is not None else [n for n, _ in spec]

    def decode_partition(pdf: pd.DataFrame) -> pd.DataFrame:
        if on_error == "skip":
            try:
                return _decode_partition_body(pdf)
            except Exception:  # noqa: BLE001 — read-side isolation opt-in
                # corrupt/unreadable partition -> zero rows, job survives
                # (the read-side mirror of encode's failure isolation;
                # run verify()/metrics to see what went missing)
                return pd.DataFrame({n: pd.Series([], dtype=object) for n in names})
        return _decode_partition_body(pdf)

    def _decode_partition_body(pdf: pd.DataFrame) -> pd.DataFrame:
        out, _tails, _counts = _decode_fragments(pdf, spec, key_cols, content_col)
        out = out.reset_index(drop=True)
        if latest_only or at_version is not None:
            # chains still replay fully (keyframe-bounded), but only the
            # requested version per key crosses the Python->JVM boundary
            out = _version_select(out, key_cols, latest_only, at_version)
        out = out.reset_index(drop=True)[names]
        # Spark's serializer struct-packs plain Arrays; pd.concat across
        # fragments leaves Arrow-backed columns chunked -> combine once
        for c in out.columns:
            if isinstance(out[c].dtype, pd.ArrowDtype):
                ca = out[c].array.__arrow_array__()
                if isinstance(ca, pa.ChunkedArray):
                    out[c] = pd.Series(
                        pd.arrays.ArrowExtensionArray(ca.combine_chunks()),
                        dtype=out[c].dtype,
                    )
        return out

    return decode_partition


# retained for callers that decode the fixed code-table layout directly
_decode_partition = make_decode_kernel(DEFAULT_SPEC)


# Spark-side Arrow type per DDL for the decode job's applyInArrow
# return boundary.  Timestamps are tz-aware UTC (storage is UTC-epoch
# micros — the cast reinterprets, it does not shift).
_SPARK_SCALAR_ARROW = {
    "string": pa.string(), "bigint": pa.int64(), "int": pa.int32(),
    "smallint": pa.int16(), "tinyint": pa.int8(), "boolean": pa.bool_(),
    "float": pa.float32(), "double": pa.float64(),
    "timestamp": pa.timestamp("us", tz="UTC"), "date": pa.date32(),
}


def _spark_arrow_type(ddl: str) -> pa.DataType:
    if ddl in _SPARK_SCALAR_ARROW:
        return _SPARK_SCALAR_ARROW[ddl]
    from ..kernels import nested as nested_kernel

    return nested_kernel.spark_arrow_type(nested_kernel.parse_ddl(ddl))


def _col_to_arrow(s: pd.Series, ddl: str) -> pa.Array:
    """One decoded column -> the exact Arrow array Spark's applyInArrow
    verifier expects.  We own this conversion (instead of letting
    Spark's pandas serializer do it) because the pandas path nulls NaN
    found inside nested float cells — Spark treats NaN as a VALUE."""
    t = _spark_arrow_type(ddl)
    if isinstance(s.dtype, pd.ArrowDtype):
        a = s.array.__arrow_array__()
        if isinstance(a, pa.ChunkedArray):
            a = a.combine_chunks()
        return a if a.type == t else a.cast(t)
    if len(s) == 0:
        return pa.array([], type=t)
    if ddl.startswith(("struct<", "array<", "map<")):
        from ..kernels.nested import _obj_list

        return pa.array(_obj_list(s), type=t)
    if ddl == "timestamp":
        return pa.Array.from_pandas(s).cast(t)
    if ddl == "date":
        return pa.array(
            [None if v is None or v is pd.NaT else v for v in s.tolist()], type=t
        )
    return pa.Array.from_pandas(s, type=t)


def _pdf_to_arrow(out: pd.DataFrame, out_spec: list[tuple[str, str]]) -> pa.Table:
    arrays = [_col_to_arrow(out[name], ddl) for name, ddl in out_spec]
    return pa.Table.from_arrays(arrays, names=[n for n, _ in out_spec])


def _active_blocks(
    spark: SparkSession, out_dir: str, as_of_gen: int | None = None
) -> DataFrame:
    """Block rows belonging to active committed manifest entries, with
    the manifest generation attached (fragment replay order)."""
    blocks = _read_blocks(spark, os.path.join(out_dir, "blocks"))
    active = (
        _manifest_active(spark, os.path.join(out_dir, "manifest"), as_of_gen)
        .filter(F.col("status") == "committed")
        .select("part_id", "run_id", "gen")
    )
    return blocks.join(F.broadcast(active), ["part_id", "run_id"])


def history(spark: SparkSession, out_dir: str) -> DataFrame:
    """The table's commit log: one row per manifest generation (run),
    newest last — the snapshot-history surface (reference
    ``SnapshotCtx::history``, snapshot/mod.rs:11-29; Iceberg-style
    table history over the append-only manifest).  ``gen`` values feed
    ``decode(as_of_gen=...)`` time travel.

    Rows carry the caller-supplied commit metadata (``origin``/``msg``,
    reference snapshot/full.rs:164-170); tables written before that
    metadata existed read as nulls (mergeSchema)."""
    m = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_dir, "manifest")
    )
    for c in ("origin", "msg"):
        if c not in m.columns:
            m = m.withColumn(c, F.lit(None).cast("string"))
    return (
        m.groupBy("run_id", "gen", "kind", "batch_id", "origin", "msg")
        .agg(
            F.count("*").alias("partitions"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
                "failed_partitions"
            ),
        )
        .orderBy("gen")
    )


def _zone_prune(
    blocks: DataFrame,
    wcol: str,
    lo,
    hi,
    string_kind: bool = False,
) -> DataFrame:
    """Partition pruning via block zone maps: drop every partition in
    which NO active fragment's [min, max] for ``wcol`` intersects
    [lo, hi].  Int-family columns prune on (zmin, zmax) in int64
    storage space; string columns on the UTF-8-byte-order (smin, smax)
    bounds (see _string_zone — code-point order == UTF-8 byte order ==
    the pinned UTF8_BINARY collation).  Blocks without zone maps
    (pre-zone-map tables, all-null fragments, truncation-dropped
    string extremes) count as possible matches — pruning is
    only ever an optimization, never a correctness dependency (the
    residual row filter still applies after decode).

    Headroom bound: the broadcast ``hits`` list is one long per
    SURVIVING partition — partitions-sized at worst (no predicate
    selectivity), so <= ~10^6 entries / ~8 MB at 100 TB with >= 100 MB
    partitions.  Pinned by test_partition_count_headroom_100k."""
    mn, mx = ("smin", "smax") if string_kind else ("zmin", "zmax")
    if mn not in blocks.columns:
        return blocks
    lit = (lambda v: F.lit(str(v))) if string_kind else (lambda v: F.lit(int(v)))
    # each bound checks null independently: a one-sided zone (e.g. a
    # truncation-dropped smax) still prunes on its recorded side
    upper_ok = (
        F.lit(True) if hi is None else (F.col(mn).isNull() | (F.col(mn) <= lit(hi)))
    )
    lower_ok = (
        F.lit(True) if lo is None else (F.col(mx).isNull() | (F.col(mx) >= lit(lo)))
    )
    cond = upper_ok & lower_ok
    hits = (
        blocks.filter(F.col("column") == wcol)
        .groupBy("part_id")
        .agg(F.max(F.when(cond, 1).otherwise(0)).alias("hit"))
        .filter(F.col("hit") == 1)
        .select("part_id")
    )
    return blocks.join(F.broadcast(hits), "part_id", "left_semi")


_IN_ZONE_MAX = 64  # per-value zone OR beyond this degrades to one range


def _zone_prune_in(
    blocks: DataFrame, wcol: str, zvals: list, string_kind: bool = False
) -> DataFrame:
    """IN-list zone pruning: keep every partition in which ANY probe
    value can land inside some active fragment's [min, max] for
    ``wcol`` (per-value containment checks OR'd).  Beyond
    ``_IN_ZONE_MAX`` values the OR degrades to a single loose
    [min(values), max(values)] range check — a plan-size guard that is
    looser but never wrong (the residual ``isin`` filter is exact, same
    contract as _zone_prune)."""
    mn, mx = ("smin", "smax") if string_kind else ("zmin", "zmax")
    if mn not in blocks.columns or not zvals:
        return blocks
    if len(zvals) > _IN_ZONE_MAX:
        return _zone_prune(blocks, wcol, min(zvals), max(zvals), string_kind)
    lit = (lambda v: F.lit(str(v))) if string_kind else (lambda v: F.lit(int(v)))
    cond = F.lit(False)
    for v in zvals:
        cond = cond | (
            (F.col(mn).isNull() | (F.col(mn) <= lit(v)))
            & (F.col(mx).isNull() | (F.col(mx) >= lit(v)))
        )
    hits = (
        blocks.filter(F.col("column") == wcol)
        .groupBy("part_id")
        .agg(F.max(F.when(cond, 1).otherwise(0)).alias("hit"))
        .filter(F.col("hit") == 1)
        .select("part_id")
    )
    return blocks.join(F.broadcast(hits), "part_id", "left_semi")


def _bloom_prune(blocks: DataFrame, wcol: str, value: str) -> DataFrame:
    """Point-probe pruning via per-block Bloom filters (kernels/bloom):
    drop every partition in which EVERY active fragment's filter for
    ``wcol`` proves ``value`` absent.  Null filters (pre-bloom tables,
    low-cardinality columns, all-null fragments) count as possible
    matches — like the zone maps, pruning is an optimization only; the
    residual row filter after decode keeps exact semantics, so the
    filter's false-positive rate affects scan cost, never results.
    Runs distributed over the metadata-sized blocks DataFrame; the
    probe value ships in the UDF closure."""
    if "bloom" not in blocks.columns:
        return blocks
    from ..kernels.bloom import bloom_maybe

    @F.pandas_udf("boolean")
    def _maybe(b: pd.Series) -> pd.Series:
        return pd.Series(
            [True if x is None else bloom_maybe(bytes(x), value) for x in b]
        )

    hits = (
        blocks.filter(F.col("column") == wcol)
        .select("part_id", "bloom")
        .withColumn(
            "hit",
            F.when(F.col("bloom").isNull(), F.lit(True)).otherwise(
                _maybe(F.col("bloom"))
            ),
        )
        .groupBy("part_id")
        .agg(F.max(F.col("hit").cast("int")).alias("h"))
        .filter(F.col("h") == 1)
        .select("part_id")
    )
    return blocks.join(F.broadcast(hits), "part_id", "left_semi")


def _bloom_prune_in(blocks: DataFrame, wcol: str, values: list[str]) -> DataFrame:
    """IN-list point-probe pruning: drop every partition in which every
    active fragment's Bloom filter proves ALL probe values absent.  The
    whole probe list ships in the UDF closure and each block answers it
    with one vectorized FNV sweep (kernels/bloom.bloom_maybe_any); same
    optimization-only contract as _bloom_prune."""
    if "bloom" not in blocks.columns or not values:
        return blocks
    from ..kernels.bloom import bloom_maybe_any

    @F.pandas_udf("boolean")
    def _maybe_any(b: pd.Series) -> pd.Series:
        return pd.Series(
            [True if x is None else bloom_maybe_any(bytes(x), values) for x in b]
        )

    hits = (
        blocks.filter(F.col("column") == wcol)
        .select("part_id", "bloom")
        .withColumn(
            "hit",
            F.when(F.col("bloom").isNull(), F.lit(True)).otherwise(
                _maybe_any(F.col("bloom"))
            ),
        )
        .groupBy("part_id")
        .agg(F.max(F.col("hit").cast("int")).alias("h"))
        .filter(F.col("h") == 1)
        .select("part_id")
    )
    return blocks.join(F.broadcast(hits), "part_id", "left_semi")


def decode(
    spark: SparkSession,
    out_dir: str,
    with_part_id: bool = False,
    columns: list[str] | None = None,
    parts: list[int] | None = None,
    latest_only: bool = False,
    at_version: int | None = None,
    strict: bool = False,
    as_of_gen: int | None = None,
    where: tuple | list[tuple] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Run J2: reconstruct the original rows from blocks.

    as_of_gen reads the table AS OF an earlier manifest generation
    (time travel over the append-only commit log; see ``history()`` for
    the generations) — later replaces/appends/compactions are
    invisible, and any pre-vacuum snapshot remains readable because
    superseded blocks stay on disk until vacuum reclaims them.

    strict=True raises if any active partition is in the failed state
    instead of silently decoding the committed subset — the read-side
    counterpart of the error-isolation taxonomy (callers that need the
    WHOLE table opt in; audits/partial readers keep the default).

    columns prunes at the BLOCK level: un-requested columns' payloads
    are filtered out before they reach the Python worker, and their
    kernels never run (decoding content still pulls the key columns in
    internally — chain seeding needs group identity — but only the
    requested columns are returned).  parts prunes whole partitions via
    the manifest, the partition-pruning analog.

    where=(col, lo, hi) — or a LIST of such tuples, ANDed — pushes
    range predicates on int-family or string columns INTO the block
    scan: partitions whose zone maps (per-block min/max recorded at
    encode, the A13 Range semantics; UTF-8-byte-ordered smin/smax for
    strings, unicode included) cannot intersect every predicate's range are pruned
    before any kernel runs, and a residual row filter restores exact
    semantics afterwards.  Either bound may be None (open-ended).
    where=(col, [v1, v2, ...]) is the IN-list form — batch point
    probes ("fetch these N commits"): a partition survives when ANY
    value can land in its zones, string columns additionally answer
    the whole list with one per-block Bloom sweep, and the residual is
    an exact ``isin``.  Predicate columns are always included in the
    output (the residual filter reads them).  Tables encoded before
    zone maps existed decode fine — pruning silently degrades to
    scan-all.

    on_error="skip" is READ-side failure isolation (the decode mirror
    of encode's fail-the-partition-not-the-job taxonomy): a partition
    whose blocks can't be decoded — bit rot, truncated payloads,
    manually damaged files — contributes zero rows instead of failing
    the whole read.  Default stays "raise" (silent data loss must be
    opted into); pair a skip-read with verify()/metrics to see what
    went missing.

    Version pruning (reference ``to_full_snapshots`` prefix semantics /
    the materialized head, snapshot/delta.rs:81-95,137-151):
    latest_only=True emits ONE row per (key...) — the chain head, the
    common "fetch current corpus" read; at_version=k emits each key's
    k-th version (0-based) where it exists.  Chains replay internally
    (decode depth stays keyframe-bounded) but only the requested
    version per key leaves the worker.
    """
    if latest_only and at_version is not None:
        raise ValueError("latest_only and at_version are mutually exclusive")
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    if at_version is not None and at_version < 0:
        raise ValueError("at_version must be >= 0")
    wpreds: list[tuple] = []  # (wcol, wlo, whi, wvals): wvals set for IN-lists
    if where is not None:
        for w in ([where] if isinstance(where, tuple) else list(where)):
            if len(w) == 2:  # (col, [v1, v2, ...]) — IN-list point probes
                wcol, wvals = w
                if not isinstance(wvals, (list, tuple, set, frozenset)) or not wvals:
                    raise ValueError(
                        "IN-list where needs (col, non-empty list of values)"
                    )
                if any(v is None for v in wvals):
                    raise ValueError("IN-list where values must be non-null")
                vals = list(dict.fromkeys(wvals))
                try:  # deterministic plan/probe order when comparable
                    vals = sorted(vals)
                except TypeError:
                    pass
                wpreds.append((wcol, None, None, vals))
                continue
            wcol, wlo, whi = w
            if wlo is None and whi is None:
                raise ValueError("where needs at least one of (lo, hi)")
            wpreds.append((wcol, wlo, whi, None))
    if strict:
        failed = (
            _manifest_active(spark, os.path.join(out_dir, "manifest"), as_of_gen)
            .filter(F.col("status") == "failed")
            .select("part_id", "error")
            .limit(20)
            .collect()
        )
        if failed:
            raise ValueError(
                f"decode(strict=True): partitions "
                f"{sorted({r['part_id'] for r in failed})} have failed "
                f"encodes (first error: {failed[0]['error']!r}); re-run "
                "encode() to heal them or decode without strict"
            )
    info = read_table_spec(spark, out_dir)
    spec = info["spec"]
    zpreds: list[tuple] = []  # (wcol, wddl, wlo, whi, zlo, zhi) — ranges
    ipreds: list[tuple] = []  # (wcol, wddl, vals, zvals) — IN-lists
    for wcol, wlo, whi, wvals in wpreds:
        wddl = dict(spec).get(wcol)
        if wddl is None:
            raise ValueError(f"where column {wcol!r} not in table")
        if wddl not in _INT_DDL and wddl not in (
            "boolean", "timestamp", "date", "string", "float", "double"
        ):
            raise ValueError(
                f"where supports int/boolean/timestamp/date/float/double/"
                f"string columns; {wcol!r} is {wddl}"
            )

        def _zbound(v, wddl=wddl):
            """Predicate bound -> the zone map's comparison space: int64
            storage values for int-family columns (same mapping
            _storage_int64 applies at encode), the raw string for
            string columns (smin/smax compare directly under the pinned
            binary collation)."""
            if v is None:
                return None
            if wddl == "string":
                return str(v)
            if wddl in ("float", "double"):
                # same sortable-int64 mapping _float_zone applied at
                # encode, including its signed-zero canonicalization
                fv = float(v)
                if fv == 0.0:
                    fv = 0.0
                return int(_float_sortable(np.array([fv], dtype=np.float64))[0])
            if wddl == "timestamp":
                return int(pd.Timestamp(v).value)  # epoch ns
            if wddl == "date":
                return int(pd.Timestamp(v).value // _NS_PER_DAY)
            return int(v)

        if wvals is not None:
            ipreds.append((wcol, wddl, wvals, [_zbound(v) for v in wvals]))
        else:
            zpreds.append((wcol, wddl, wlo, whi, _zbound(wlo), _zbound(whi)))
    version_prune = latest_only or at_version is not None
    if columns is not None:
        unknown = set(columns) - {n for n, _ in spec}
        if unknown:
            raise ValueError(f"unknown columns {sorted(unknown)}")
        internal = set(columns)
        if info["content_col"] in internal or version_prune:
            internal |= set(info["key_cols"])  # chain seeds / version ids
        wcols = {zp[0] for zp in zpreds} | {ip[0] for ip in ipreds}
        internal |= wcols  # the residual filters need their columns
        decode_spec = [(n, d) for n, d in spec if n in internal]
        out_spec = [(n, d) for n, d in spec if n in set(columns) or n in wcols]
    else:
        decode_spec = out_spec = spec
    row_schema = ", ".join(f"{name} {ddl}" for name, ddl in out_spec)
    content = info["content_col"] if any(n == info["content_col"] for n, _ in decode_spec) else None
    kernel = make_decode_kernel(
        decode_spec, info["key_cols"], content,
        out_names=[n for n, _ in out_spec],
        latest_only=latest_only, at_version=at_version,
        on_error=on_error,
    )
    blocks = _active_blocks(spark, out_dir, as_of_gen)
    if columns is not None:
        wanted = [n for n, _ in decode_spec]
        blocks = blocks.filter(F.col("column").isin(wanted))
    if parts is not None:
        blocks = blocks.filter(F.col("part_id").isin([int(p) for p in parts]))
    # String zone/Bloom pruning assumes the residual filter compares
    # strings under binary (UTF-8 byte) order — the order (smin, smax)
    # were recorded in at encode.  A session whose DEFAULT COLLATION is
    # not UTF8_BINARY (e.g. UTF8_LCASE) makes the residual filter
    # case-insensitive while pruning stays byte-ordered, silently
    # dropping matching partitions (ADVICE r06) — so string pruning is
    # disabled there at runtime, not just by test interlock.  Exactness
    # is unaffected: pruning is an optimization; the residual filter
    # still applies.
    string_prune_ok = True
    for _ck in (
        "spark.sql.session.collation.default",  # Spark 4 SQLConf key
        "spark.sql.collation.defaultCollation",
    ):
        try:
            if spark.conf.get(_ck, "UTF8_BINARY") != "UTF8_BINARY":
                string_prune_ok = False
        except Exception:
            pass
    for wcol, wddl, wlo, whi, zlo, zhi in zpreds:
        if wddl == "string" and not string_prune_ok:
            continue
        # multi-predicate pruning composes: each pass keeps only
        # partitions whose zones can intersect ITS range, so the
        # surviving set is the intersection across predicates
        blocks = _zone_prune(blocks, wcol, zlo, zhi, string_kind=(wddl == "string"))
        if wddl == "string" and wlo is not None and wlo == whi:
            # equality probe: zones rarely help on hash-like columns
            # (commit/path); the per-block Bloom filter does
            blocks = _bloom_prune(blocks, wcol, str(wlo))
    for wcol, wddl, vals, zvals in ipreds:
        if wddl == "string" and not string_prune_ok:
            continue
        # IN-list point probes: any-value zone intersection, then (for
        # string columns) a one-sweep Bloom probe over the whole list
        blocks = _zone_prune_in(blocks, wcol, zvals, string_kind=(wddl == "string"))
        if wddl == "string":
            blocks = _bloom_prune_in(blocks, wcol, [str(v) for v in vals])

    def _residual(df: DataFrame) -> DataFrame:
        if not zpreds and not ipreds:
            return df
        # the zone maps pruned PARTITIONS; exact row semantics come
        # from this residual filter (AND across predicates) over the
        # decoded columns (timestamp/date bounds compare natively)
        pred = F.lit(True)
        for wcol, wddl, wlo, whi, _zlo, _zhi in zpreds:

            def _lit(v, wddl=wddl):
                if wddl == "string":
                    return F.lit(str(v))
                if wddl in ("float", "double"):
                    return F.lit(float(v))
                if wddl == "timestamp":
                    return F.lit(pd.Timestamp(v).to_pydatetime())
                if wddl == "date":
                    return F.lit(pd.Timestamp(v).date())
                return F.lit(int(v))

            if wlo is not None:
                pred = pred & (F.col(wcol) >= _lit(wlo))
            if whi is not None:
                pred = pred & (F.col(wcol) <= _lit(whi))
        for wcol, wddl, vals, _zvals in ipreds:
            if wddl == "string":
                pyvals = [str(v) for v in vals]
            elif wddl in ("float", "double"):
                pyvals = [float(v) for v in vals]
            elif wddl == "timestamp":
                pyvals = [pd.Timestamp(v).to_pydatetime() for v in vals]
            elif wddl == "date":
                pyvals = [pd.Timestamp(v).date() for v in vals]
            else:
                pyvals = [int(v) for v in vals]
            pred = pred & F.col(wcol).isin(pyvals)
        return df.filter(pred)

    # applyInArrow, not applyInPandas: the return boundary mirrors the
    # encode side — we own the pandas -> Arrow conversion, so NaN inside
    # (nested) float columns crosses as a VALUE (Spark's own pandas
    # serializer nulls it) and Arrow-backed columns (content, map-free
    # nested trees) cross zero-copy with no python materialization.
    if with_part_id:

        def kernel_with_part(tbl: pa.Table) -> pa.Table:
            pdf = tbl.to_pandas()
            out = _pdf_to_arrow(kernel(pdf), out_spec)
            pid = pa.array([int(pdf["part_id"].iloc[0])] * len(out), type=pa.int64())
            return out.add_column(0, "part_id", pid)

        return _residual(
            blocks.groupBy("part_id").applyInArrow(
                kernel_with_part, f"part_id long, {row_schema}"
            )
        )

    def kernel_arrow(tbl: pa.Table) -> pa.Table:
        return _pdf_to_arrow(kernel(tbl.to_pandas()), out_spec)

    return _residual(blocks.groupBy("part_id").applyInArrow(kernel_arrow, row_schema))


# ------------------------------------------------------------- J3 verify ----


def verify(
    spark: SparkSession,
    original: DataFrame,
    decoded: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
) -> dict:
    """Digest-parity audit per row (BASELINE.json per-row invariant).

    Joins on key_cols and compares a null-flagged digest over every
    other column; pre-aggregating per key makes duplicated/lost copies
    of a key visible without extra count() actions over each input.
    The per-key aggregate is multiset-exact (ADVICE r02): count plus
    the decimal sums of two independent 60-bit digest halves — an
    order-insensitive fingerprint where {A,B,B} vs {A,A,B} differ,
    unlike the earlier (count, min, max) which collides on those.
    """
    value_cols = [c for c in original.columns if c not in key_cols]
    ddls = {f.name: f.dataType.simpleString() for f in original.schema.fields}

    def canonical(c):
        # map iteration order is not significant — digest sorted entries
        if ddls.get(c, "").startswith("map<"):
            entries = F.transform(
                F.map_entries(F.col(c)),
                lambda e: F.concat_ws("\x02", e["key"], e["value"]),
            )
            return F.array_join(F.sort_array(entries), "\x03")
        return F.col(c).cast("string")

    def prep(df, tag):
        parts = []
        for c in value_cols:
            parts.append(F.col(c).isNull().cast("string"))
            parts.append(F.coalesce(canonical(c), F.lit("")))
        digest = F.sha2(F.concat_ws("\x01", *parts), 256)
        half = lambda pos: F.sum(  # noqa: E731
            F.conv(F.substring(F.col("d"), pos, 15), 16, 10).cast("decimal(38,0)")
        )
        return (
            df.select(*key_cols, digest.alias("d"))
            .groupBy(*key_cols)
            .agg(
                F.count("*").alias(f"n_{tag}"),
                half(1).alias(f"s1_{tag}"),
                half(16).alias(f"s2_{tag}"),
            )
        )

    j = prep(original, "a").join(prep(decoded, "b"), list(key_cols), "full")
    bad = (
        (F.col("n_a") != F.col("n_b"))
        | (F.col("s1_a") != F.col("s1_b"))
        | (F.col("s2_a") != F.col("s2_b"))
    )
    agg = j.agg(
        F.count("*").alias("keys"),
        F.sum(F.when(F.col("n_a").isNull() | F.col("n_b").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("mismatched"),
        F.sum("n_a").alias("rows_original"),
        F.sum("n_b").alias("rows_decoded"),
    ).collect()[0]
    n_a, n_b = int(agg["rows_original"] or 0), int(agg["rows_decoded"] or 0)
    return {
        "rows": agg["keys"],
        "rows_original": n_a,
        "rows_decoded": n_b,
        "missing": int(agg["missing"] or 0),
        "mismatched": int(agg["mismatched"] or 0),
        "ok": (agg["missing"] or 0) == 0
        and (agg["mismatched"] or 0) == 0
        and n_a == n_b,
    }


# ---------------------------------------------------------------- metrics ----


def metrics_summary(manifest: DataFrame) -> dict:
    row = manifest.agg(
        F.sum("raw_bytes").alias("raw"),
        F.sum("enc_bytes").alias("enc"),
        F.sum("n_rows").alias("rows"),
        F.count("*").alias("partitions"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
    ).collect()[0]
    raw, enc = int(row["raw"] or 0), int(row["enc"] or 0)
    return {
        "rows": int(row["rows"] or 0),
        "partitions": int(row["partitions"] or 0),
        "failed_partitions": int(row["failed"] or 0),
        "raw_bytes": raw,
        "enc_bytes": enc,
        "ratio": enc / raw if raw else None,
    }
