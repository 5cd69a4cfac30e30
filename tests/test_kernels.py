"""Per-codec round-trip tests.

Mirrors the reference's in-module golden tests (canonical pattern:
``delta = a.delta(&b); assert_eq!(a.apply(delta), b)`` —
/root/reference/deltoid/src/vec.rs:166-265) as
``decode(encode(block)) == block`` bit-identical, over the degenerate
and adversarial block shapes from FIXTURES.md F2.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from deltoid_spark.kernels import api, blocks, chain, fsst, selector, strings
from deltoid_spark.kernels.intcodec import pack_ints, unpack_ints

STRING_CODECS = ["plain", "dict", "rle", "front", "fsst"]

rng = random.Random(42)


def _roundtrip(series: pd.Series, codec: str):
    buf = api.encode_block(series, codec)
    out = api.decode_block(buf)
    assert len(out) == len(series)
    for a, b in zip(series.tolist(), out.tolist()):
        assert (a is None and b is None) or a == b, (codec, a, b)
    return buf


BLOCKS = {
    "empty": [],
    "single": ["hello"],
    "all_equal": ["x"] * 1000,
    "all_null": [None] * 100,
    "some_null": ["a", None, "b", None, None, "c"],
    "unicode": ["héllo", "émoji 🎉🎊", "日本語テキスト", "", "tab\tnewline\n", "crlf\r\nline"],
    "low_card": [f"v{i % 8}" for i in range(10_000)],
    "runs": [f"run{i // 512}" for i in range(10_000)],
    "paths": [f"src/module{i % 40}/sub{i % 7}/file_{i % 100}.py" for i in range(5_000)],
    "random_b64": ["".join(rng.choices("ABCDEFabcdef0123456789+/", k=80)) for _ in range(500)],
    "empty_strings": ["", "", "x", ""],
}


@pytest.mark.parametrize("codec", STRING_CODECS)
@pytest.mark.parametrize("name", list(BLOCKS))
def test_string_roundtrip(codec, name):
    _roundtrip(pd.Series(BLOCKS[name], dtype=object), codec)


def test_front_wins_on_sorted_paths():
    """FRONT (run-length + front-coded run values) must clearly beat
    PLAIN and RLE on a sorted path column — the clustered-layout shape
    every partition has after the (repo, path, commit) sort.  Also pins
    the selector regression this codec exposed: the old STRIDED trial
    sample destroyed run/prefix structure, so at real block sizes
    (> 1024 rows, the extrapolated-trial path) the selector picked
    PLAIN for path-shaped columns (~2x oversized blocks)."""
    vals = []
    for m in range(40):
        for f in range(25):
            vals.extend([f"src/module{m:02d}/pkg/file_{f:03d}.py"] * 4)  # 4 commits
    s = pd.Series(vals, dtype=object)  # 4000 rows, sorted, runs of 4
    front = len(_roundtrip(s, "front"))
    plain = len(api.encode_block(s, "plain"))
    rle = len(api.encode_block(s, "rle"))
    assert front < 0.7 * plain, (front, plain)
    assert front < 0.8 * rle, (front, rle)
    codec, _, buf = selector.select_and_encode(s)  # > 1024 rows: trial path
    assert codec == "front", codec
    assert len(buf) == front


def test_front_fuzz_roundtrip():
    """Nulls, NULs, unicode, empty strings, and > _FRONT_MAX_WIDTH
    values (the per-run decode fallback) all round-trip exactly."""
    r = np.random.default_rng(7)
    pool = [
        None, "", "src/ma\x00in/x", "ünï/пу́ть/文件.rs",
        "src/main/java/com/example/App.java", "L" * 5000, "x1", "x2",
    ]
    for _ in range(25):
        n = int(r.integers(0, 300))
        vals = []
        while len(vals) < n:
            vals.extend([pool[int(r.integers(0, len(pool)))]] * int(r.integers(1, 4)))
        s = pd.Series(vals[:n], dtype=object)
        if r.random() < 0.5:
            s = s.sort_values(key=lambda x: x.fillna("")).reset_index(drop=True)
        _roundtrip(s, "front")


def test_hex_roundtrip():
    vals = ["%040x" % rng.getrandbits(160) for _ in range(1000)] + ["", None, "00ff"]
    buf = _roundtrip(pd.Series(vals, dtype=object), "hex")
    # 40 hex chars -> 20 bytes: must be ~2x smaller than plain on random hex
    plain = api.encode_block(pd.Series(vals, dtype=object), "plain")
    assert len(buf) < len(plain)


def test_hex_eligibility():
    assert strings.hex_eligible(pd.Series(["00ff", "abcd"]))
    assert not strings.hex_eligible(pd.Series(["0g"]))
    assert not strings.hex_eligible(pd.Series(["abc"]))  # odd length
    assert not strings.hex_eligible(pd.Series([None], dtype=object))


def test_bitpack_roundtrip():
    for width in [0, 1, 3, 7, 13, 33, 64]:
        n = 257
        vals = np.array([rng.getrandbits(width) for _ in range(n)], dtype=np.uint64)
        out = blocks.bitunpack(blocks.bitpack(vals, width), n, width)
        assert np.array_equal(vals, out)


def test_pack_ints_negative_and_monotonic():
    for arr in [
        np.array([], dtype=np.int64),
        np.array([-5, -1, 0, 3], dtype=np.int64),
        np.arange(10_000, dtype=np.int64) * 7 + 3,
        np.array([2**62, -(2**62)], dtype=np.int64),
    ]:
        meta, pay = pack_ints(arr)
        assert np.array_equal(unpack_ints(meta, pay), arr)
    # near-monotonic ints pack far below 8 bytes/value
    meta, pay = pack_ints(np.arange(10_000, dtype=np.int64) + 10**12)
    assert len(pay) < 10_000 * 3


def test_fsst_bytes_roundtrip():
    data = b"src/main/app.py src/main/util.py src/test/test_app.py " * 200
    syms = fsst.train(data)
    codes = fsst.compress_bytes(data, syms)
    assert fsst.decompress_bytes(codes, syms) == data
    assert len(codes) < len(data) / 2


def test_fsst_escape_heavy():
    data = bytes(range(256)) * 4 + b"\xff\xff\xff" + b"ab" * 50
    syms = fsst.train(data)
    codes = fsst.compress_bytes(data, syms)
    assert fsst.decompress_bytes(codes, syms) == data


def test_fsst_empty_table():
    data = b"\xff\x00\xffabc"
    codes = fsst.compress_bytes(data, [])
    assert fsst.decompress_bytes(codes, []) == data


def test_fsst_decompress_token_parse_fuzz():
    """Pin the vectorized whole-stream decoder's token grammar against a
    straightforward scalar walk: ESCAPE consumes exactly the next byte
    as a literal (0xFF literals included), everything else maps through
    the symbol table.  Random code streams with planted escape RUNS
    exercise the run-parity marker classification."""
    def scalar_walk(data: bytes, symbols: list[bytes]) -> bytes:
        out, i = bytearray(), 0
        while i < len(data):
            b = data[i]
            if b == fsst.ESCAPE:
                if i + 1 < len(data):
                    out.append(data[i + 1])
                else:
                    out.append(fsst.ESCAPE)  # lone trailing escape
                i += 2
            else:
                out += symbols[b] if b < len(symbols) else b""
                i += 1
        return bytes(out)

    rng = np.random.default_rng(99)
    for _ in range(60):
        k = int(rng.integers(0, 200))
        symbols = [
            bytes(rng.integers(0, 256, size=int(rng.integers(1, 9))).astype(np.uint8))
            for _ in range(k)
        ]
        n = int(rng.integers(0, 400))
        d = bytearray(rng.integers(0, 256, size=n).astype(np.uint8).tobytes())
        for _ in range(min(8, n // 4)):  # plant escape runs
            p = int(rng.integers(0, max(1, n - 4)))
            run = int(rng.integers(1, 5))
            d[p : p + run] = b"\xff" * run
        data = bytes(d)
        assert fsst.decompress_bytes(data, symbols) == scalar_walk(data, symbols)
    for edge in (b"", b"\xff", b"ab\xff", b"\xff\xff", b"\xff\xff\xff"):
        assert fsst.decompress_bytes(edge, [b"xy", b"z"]) == scalar_walk(edge, [b"xy", b"z"])


def test_dict_beats_plain_on_low_card():
    # random ORDER matters: on cyclic toy data zstd's match-finder wins;
    # on realistic unordered categories DICT's 3-bit codes win clearly
    s = pd.Series(
        [f"some_longer_category_value_{rng.randint(0, 7)}" for _ in range(10_000)],
        dtype=object,
    )
    assert len(api.encode_block(s, "dict")) < len(api.encode_block(s, "plain"))


def test_rle_beats_dict_on_runs():
    s = pd.Series([f"val{i // 512}" for i in range(10_000)], dtype=object)
    assert len(api.encode_block(s, "rle")) < len(api.encode_block(s, "dict"))


class TestSelector:
    def test_low_card_picks_dict_or_rle(self):
        s = pd.Series(
            [f"some/longer/language_name_{rng.randint(0, 7)}" for _ in range(10_000)],
            dtype=object,
        )
        codec, _ = selector.select_codec(s)
        assert codec in ("dict", "rle", "fsst")

    def test_selector_near_optimal(self):
        # contract: the pick lands within 15% of the true min-size codec
        cases = [
            pd.Series(["a"] * 5000 + ["b"] * 5000, dtype=object),
            pd.Series([f"some/longer/language_name_{i % 8}" for i in range(10_000)], dtype=object),
            pd.Series([f"run_value_{i // 512}" for i in range(10_000)], dtype=object),
        ]
        for s in cases:
            codec, _ = selector.select_codec(s)
            actual = {
                c: len(api.encode_block(s, c))
                for c in ("plain", "dict", "rle", "front", "fsst")
            }
            best = min(actual.values())
            assert actual[codec] <= best * 1.15, (codec, actual)

    def test_hex_picks_hex(self):
        s = pd.Series(["%040x" % rng.getrandbits(160) for _ in range(2000)], dtype=object)
        codec, _ = selector.select_codec(s)
        assert codec == "hex"

    def test_random_falls_back(self):
        s = pd.Series(
            ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz0123456789+/=ABCDEF", k=60))
             for _ in range(2000)], dtype=object)
        codec, _ = selector.select_codec(s)
        # whatever wins must not inflate vs plain beyond header overhead
        win = len(api.encode_block(s, codec))
        plain = len(api.encode_block(s, "plain"))
        assert win <= plain * 1.05

    def test_stats_fields(self):
        s = pd.Series(["a", "a", "b", None], dtype=object)
        st = selector.column_stats(s)
        assert 0 < st["distinct_ratio"] <= 1
        assert st["mean_run"] >= 1


class TestChain:
    def _mk(self, groups):
        contents, sizes = [], []
        for g in groups:
            contents.extend(g)
            sizes.append(len(g))
        return pd.Series(contents, dtype=object), np.array(sizes)

    def _roundtrip(self, groups, k=4):
        s, sizes = self._mk(groups)
        buf = chain.encode_chain(s, sizes, keyframe_interval=k)
        out = chain.decode_chain(*_unframe(buf))
        for a, b in zip(s.tolist(), out.tolist()):
            assert (a is None and b is None) or a == b
        return buf, s

    def test_single_version(self):
        self._roundtrip([["hello\nworld"]])

    def test_edit_chain(self):
        base = [f"line {i}" for i in range(100)]
        versions = ["\n".join(base)]
        lines = list(base)
        for v in range(20):
            lines[v * 3 % len(lines)] = f"edited {v}"
            versions.append("\n".join(lines))
        buf, s = self._roundtrip([versions])
        # delta scripts must stay far below raw chain bytes (on tiny toy
        # chains zstd's window dedups versions too, so plain can win
        # there; chain's edge shows at partition scale — next test)
        assert len(buf) < s.str.len().sum() / 3

    def test_appends_and_truncates(self):
        v0 = "a\nb\nc"
        self._roundtrip([[v0, v0 + "\nd\ne", "a\nb", "", "a\nb\nc\nd"]])

    def test_null_transitions_exact(self):
        # the OptionDelta Some->None wart (main.rs:14-22): we must be exact
        self._roundtrip([["text", None, "text2", None, None, "x"]])

    def test_identical_commits_noop_delta(self):
        v = "same\ncontent"
        buf, _ = self._roundtrip([[v, v, v, v]])

    def test_crlf_and_unicode(self):
        self._roundtrip([["a\r\nb\r\n", "a\r\nB\r\n", "日本\n🎉", "日本\n🎊"]])

    def test_empty_then_grows(self):
        self._roundtrip([["x\ny", "", "x\ny\nz"]])

    def test_multiple_groups(self):
        g1 = ["a\nb", "a\nc", "a\nc\nd"]
        g2 = ["1\n2\n3", "1\n2"]
        self._roundtrip([g1, g2, ["solo"]])

    def test_long_chain_keyframes(self):
        lines = [f"l{i}" for i in range(50)]
        versions = []
        for v in range(64):
            lines[v % 50] = f"v{v}"
            versions.append("\n".join(lines))
        self._roundtrip([versions], k=16)


def _unframe(buf):
    _, meta, payload = blocks.unframe(buf)
    return meta, payload


class TestCharSplice:
    """Char-level intra-line refinement (reference string.rs:37 TODO):
    on the SEEDED append path a few changed chars inside a long line
    encode as (line_idx, col_start, del_count, fragment) instead of
    re-storing the line (or, for one-line files, the whole text)."""

    def _seed_encode(self, base, new_text, kf=32):
        import numpy as np

        s = pd.Series([new_text], dtype=object)
        gs = np.array([1], dtype=np.int64)
        return chain.encode_chain(
            s, gs, keyframe_interval=kf,
            base_texts=[base], base_versions=np.array([1], dtype=np.int64),
        )

    def test_seeded_one_line_file_char_delta(self):
        import random
        import string as st

        r = random.Random(3)
        base = ";".join(
            "".join(r.choices(st.ascii_letters, k=6)) for _ in range(600)
        )  # ~4KB high-entropy one-liner
        new = base[:50] + "EDIT" + base[54:]
        buf = self._seed_encode(base, new)
        name, meta, pay = _unframe_raw(buf)
        assert meta.get("cb_len"), "char mode should fire"
        out = chain.decode_chain(meta, pay, base_texts=[base])
        assert out.tolist() == [new]
        # without the refinement the whole text re-stores as a keyframe
        old_max = chain.CHAR_EDIT_MAX
        chain.CHAR_EDIT_MAX = 0
        try:
            buf0 = self._seed_encode(base, new)
        finally:
            chain.CHAR_EDIT_MAX = old_max
        assert len(buf) < len(buf0) * 0.5, (len(buf), len(buf0))

    def test_seeded_two_line_edit_and_unicode(self):
        lines = ["col %02d " % i + "§π" * 40 + "tail %d" % i for i in range(20)]
        base = "\n".join(lines)
        l2 = list(lines)
        l2[3] = l2[3][:10] + "ÆØ" + l2[3][12:]
        l2[17] = l2[17][:5] + "!" + l2[17][5:]  # pure insert (del_count 0)
        new = "\n".join(l2)
        buf = self._seed_encode(base, new)
        name, meta, pay = _unframe_raw(buf)
        assert meta.get("cb_len")
        assert chain.decode_chain(meta, pay, base_texts=[base]).tolist() == [new]

    def test_char_spliced_line_edited_again(self):
        # the spliced line gets a fresh decode-side code; a later version
        # must be able to edit that SAME line again, line-level
        import numpy as np

        base = "x" * 500
        v1 = base[:100] + "A" + base[101:]
        v2 = v1[:300] + "B" + v1[301:]
        s = pd.Series([v1, v2], dtype=object)
        gs = np.array([2], dtype=np.int64)
        buf = chain.encode_chain(
            s, gs, base_texts=[base], base_versions=np.array([1], dtype=np.int64)
        )
        name, meta, pay = _unframe_raw(buf)
        out = chain.decode_chain(meta, pay, base_texts=[base])
        assert out.tolist() == [v1, v2]

    def test_contiguous_path_bytes_unchanged(self):
        # deliberate: within one block zstd already matches across
        # versions, so the refinement is seeded-path-only — contiguous
        # chains encode byte-identically with it enabled or disabled
        import numpy as np

        versions = ["\n".join(f"line {i}" for i in range(50))]
        for v in range(6):
            ls = versions[-1].split("\n")
            ls[v * 7 % 50] = "longline " + "z" * 300 + str(v)
            versions.append("\n".join(ls))
        s = pd.Series(versions, dtype=object)
        gs = np.array([len(versions)], dtype=np.int64)
        with_ref = chain.encode_chain(s, gs)
        old_max = chain.CHAR_EDIT_MAX
        chain.CHAR_EDIT_MAX = 0
        try:
            without = chain.encode_chain(s, gs)
        finally:
            chain.CHAR_EDIT_MAX = old_max
        assert with_ref == without


def _unframe_raw(buf):
    from deltoid_spark.kernels import blocks as _b

    return _b.unframe(buf)


def test_fp_decimal_mode():
    """ALP-style pseudo-decimal floats: decimal columns (prices,
    rounded measurements) store as scaled ints + exceptions and come
    back bit-exact; non-decimal columns, float32, ±inf/NaN/null edges
    and -0.0 all stay correct (falling back to lanes or the exception
    list as size dictates)."""
    import numpy as np

    from deltoid_spark.kernels import api, blocks as blk
    from deltoid_spark.kernels.floats import encode_fp

    r = np.random.default_rng(5)
    prices = pd.Series(np.round(r.uniform(1, 100000, 20000), 2))
    randoms = pd.Series(r.standard_normal(20000))
    mixed = pd.Series(
        np.where(r.random(20000) < 0.95,
                 np.round(r.uniform(0, 1000, 20000), 2),
                 r.standard_normal(20000))
    )
    edges = pd.Series(
        [0.0, -0.0, np.inf, -np.inf, 1e300, -1e-300, 123.45,
         None, np.nan, 2.5, -2.5] * 50,
        dtype="Float64",
    )

    def rt(s, **kw):
        out = api.decode_block(encode_fp(s, **kw))
        for x, y in zip(s.tolist(), out.tolist()):
            assert (pd.isna(x) and pd.isna(y)) or x == y, (x, y)
        return blk.unframe(encode_fp(s, **kw))[1].get("mode", "lanes")

    assert rt(prices) == "dec"
    assert rt(mixed) == "dec"      # 5% stragglers ride the exception list
    assert rt(randoms) == "lanes"  # not decimal: size pick keeps lanes
    assert rt(edges) == "lanes"
    assert rt(pd.Series([], dtype="float64")) == "lanes"
    f32 = pd.Series(np.round(r.uniform(0, 100, 500), 2).astype(np.float32))
    assert rt(f32, width=4) == "lanes"  # decimal mode is float64-only
    # the size win that motivates the mode (vs lanes+zstd)
    import deltoid_spark.kernels.floats as FL
    probe = FL._decimal_probe
    FL._decimal_probe = lambda *a: None
    try:
        lanes_len = len(encode_fp(prices))
    finally:
        FL._decimal_probe = probe
    assert len(encode_fp(prices)) < lanes_len * 0.8


def test_dint_modes_and_roundtrip():
    """dint (best-of FoR / zigzag-delta / delta-of-delta): mode picks
    by TOTAL frame size, every shape round-trips exactly — including
    2^63-boundary values whose diffs overflow (modular int64 on both
    sides) — and the timestamp case lands the big win."""
    import numpy as np

    from deltoid_spark.kernels import api, blocks as blk
    from deltoid_spark.kernels.intcodec import encode_dint, encode_for

    r = np.random.default_rng(3)
    regular_ts = pd.Series(
        10**15 + np.arange(20_000, dtype=np.int64) * 60_000_000_000
        + r.integers(0, 1000, 20_000),
        dtype="int64",
    )
    cases = {
        "random": pd.Series(r.integers(-2**40, 2**40, 20_000), dtype="int64"),
        "sorted": pd.Series(np.sort(r.integers(0, 2**50, 20_000)), dtype="int64"),
        "regular_ts": regular_ts,
        "extremes": pd.Series(
            [-2**63, 2**63 - 1, 0, -1, 2**62, -2**62] * 100, dtype="int64"
        ),
        "nullable": pd.Series([1, None, 3, None, 10**18], dtype="Int64"),
        "empty": pd.Series([], dtype="int64"),
        "single": pd.Series([7], dtype="int64"),
        "allnull": pd.Series([None, None], dtype="Int64"),
    }
    for name, s in cases.items():
        buf = encode_dint(s)
        assert api.decode_block(buf).tolist() == s.tolist(), name
    # mode selection: deltas win exactly where they should
    mode = lambda s: blk.unframe(encode_dint(s))[1]["mode"]  # noqa: E731
    assert mode(cases["random"]) == "f"        # no sequential structure
    assert mode(cases["extremes"]) == "f"      # overhead-aware tie-break
    assert mode(cases["sorted"]) in ("d1", "d2")   # monotonic: a delta wins
    assert mode(cases["regular_ts"]) in ("d1", "d2")
    # the headline ratio: near-constant-cadence timestamps pack to the
    # jitter's width, ~4x under FoR
    assert len(encode_dint(regular_ts)) < len(encode_for(regular_ts)) * 0.30


def test_nul_byte_strings_exact():
    # pd.factorize hashes C strings: '' and '\x00' collide. Our DICT/RLE
    # must distinguish them (bit-identical round-trip requirement).
    s = pd.Series([None, "\x00", "", "\x00x", "x\x00y"], dtype=object)
    for codec in ("plain", "dict", "rle", "fsst"):
        out = api.decode_block(api.encode_block(s, codec))
        assert out.tolist() == s.tolist(), codec


def test_chain_beats_plain_at_partition_scale():
    # the job-level comparison that matters: a real partition's content
    # column (many multi-version chains) — CHAIN must beat whole-column
    # PLAIN+zstd, on top of giving per-chain keyframe random access
    from deltoid_spark.fixtures import codegen
    from deltoid_spark.jobs.pipeline import _group_sizes

    pdf = codegen.generate(10_000)
    pdf = pdf.sort_values(["repo", "path", "commit"], kind="mergesort").reset_index(drop=True)
    s = pdf["content"]
    g = _group_sizes(pdf["repo"] + "\x00" + pdf["path"])
    chain_buf = chain.encode_chain(s, g)  # k=32 default
    plain_buf = api.encode_block(s, "plain")
    assert len(chain_buf) <= len(plain_buf) * 1.05  # near-parity floor; kernel picks min anyway


def test_hex_not_selected_on_mixed_case_column():
    # one uppercase row outside the stats sample: selecting hex would
    # silently lowercase on round-trip (bytes.fromhex accepts uppercase)
    vals = ["%040x" % rng.getrandbits(160) for _ in range(3000)]
    vals[1] = vals[1].upper()  # stride sampling sees even rows only
    s = pd.Series(vals, dtype=object)
    codec, _ = selector.select_codec(s)
    buf = api.encode_block(s, codec)
    assert api.decode_block(buf).tolist() == s.tolist()
    assert codec != "hex"


def test_hex_not_selected_on_odd_length_value():
    vals = ["%040x" % rng.getrandbits(160) for _ in range(3000)]
    vals[1] = "abc"  # odd length: bytes.fromhex would raise mid-encode
    s = pd.Series(vals, dtype=object)
    codec, _ = selector.select_codec(s)
    out = api.decode_block(api.encode_block(s, codec))
    assert out.tolist() == s.tolist()


class TestFloats:
    def test_roundtrip_doubles(self):
        import numpy as np
        import pandas as pd

        from deltoid_spark.kernels import api

        s = pd.Series([0.0, -1.5, 3.14159, np.inf, -np.inf, 1e-308, None])
        dec = api.decode_block(api.encode_block(s, "fp"))
        for a, b in zip(s.tolist(), dec.tolist()):
            if pd.isna(a):
                assert pd.isna(b)
            else:
                assert a == b, (a, b)

    def test_roundtrip_float32(self):
        import numpy as np
        import pandas as pd

        from deltoid_spark.kernels import api

        s = pd.Series(np.array([1.25, -0.5, 65504.0], dtype=np.float32))
        dec = api.decode_block(api.encode_block(s, "fp", width=4))
        assert dec.tolist() == s.tolist()
        assert str(dec.dtype) == "Float32"

    def test_empty(self):
        import pandas as pd

        from deltoid_spark.kernels import api

        dec = api.decode_block(api.encode_block(pd.Series([], dtype="float64"), "fp"))
        assert len(dec) == 0


class TestMapDelta:
    def _roundtrip(self, rows, gsizes, **kw):
        import numpy as np
        import pandas as pd

        from deltoid_spark.kernels import api

        s = pd.Series(rows, dtype=object)
        buf = api.encode_block(s, "mapdelta", group_sizes=np.array(gsizes), **kw)
        dec = api.decode_block(buf)
        assert dec.tolist() == [r if r is None else dict(r) for r in rows]
        return buf

    def test_add_edit_remove_chain(self):
        rows = [
            {"a": "1", "b": "2"},
            {"a": "1", "b": "3", "c": "x"},   # edit b, add c
            {"b": "3", "c": "x"},             # remove a
            {},                               # remove all
            {"z": "9"},
        ]
        self._roundtrip(rows, [5])

    def test_null_and_keyframes(self):
        rows = [{"k": "v"}, None, {"k": "v2"}, {"k": "v2", "j": "w"}]
        self._roundtrip(rows, [4], keyframe_interval=2)

    def test_delta_smaller_than_keyframes(self):
        import numpy as np
        import pandas as pd

        from deltoid_spark.kernels import api

        base = {f"key_{i}": f"value_{i}" * 4 for i in range(50)}
        rows = [dict(base, **{"key_0": f"v{v}"}) for v in range(32)]
        s = pd.Series(rows, dtype=object)
        delta = api.encode_block(s, "mapdelta", group_sizes=np.array([32]))
        key_every = api.encode_block(
            s, "mapdelta", group_sizes=np.array([32]), keyframe_interval=1
        )
        assert len(delta) < len(key_every) * 0.5

    def test_byte_deterministic(self):
        rows = [{"b": "2", "a": "1"}, {"a": "1", "b": "2", "c": "3"}]
        b1 = self._roundtrip(rows, [2])
        b2 = self._roundtrip(rows, [2])
        assert b1 == b2


class TestStrList:
    def test_roundtrip(self):
        import pandas as pd

        from deltoid_spark.kernels import api

        rows = [["a", "b"], [], None, ["unicode 日本", ""], ["x"] * 100]
        dec = api.decode_block(api.encode_block(pd.Series(rows, dtype=object), "strlist"))
        assert dec.tolist() == rows

    def test_empty_column(self):
        import pandas as pd

        from deltoid_spark.kernels import api

        dec = api.decode_block(api.encode_block(pd.Series([], dtype=object), "strlist"))
        assert dec.tolist() == []


def test_nested_leaf_dint_and_decimal():
    """Nested leaf codec upgrades (round-6): int leaves route through
    the DINT best-of family and double leaves through the ALP
    pseudo-decimal probe, so regular timestamp/measurement leaves
    inside arrays shrink well below the plain FoR/lanes encoding —
    golden-size-bounded here — while irregular leaves stay on the old
    path and EVERYTHING round-trips exactly (NaN/inf/-0.0 exceptions
    included)."""
    import numpy as np
    import pandas as pd

    from deltoid_spark.kernels.nested import (
        decode_nested,
        encode_nested,
    )
    from deltoid_spark.kernels import blocks as blk

    # regular timestamp leaves: delta-of-delta packs a near-constant
    # cadence to ~0 bits/value
    ts = pd.Series(
        [[1_700_000_000_000 + 60_000 * (8 * i + j) for j in range(8)]
         for i in range(300)],
        dtype=object,
    )
    buf_ts = encode_nested(ts, "array<bigint>")
    _c, meta_ts, _p = blk.unframe(buf_ts)
    leaf = meta_ts["tree"]["child"]["i"]
    assert leaf.get("m") in ("d1", "d2")        # delta family actually won
    assert len(buf_ts) < 2400                    # ~1 byte/value incl. framing
    got = decode_nested(*blk.unframe(buf_ts)[1:])
    assert [list(x) for x in got] == [list(x) for x in ts]

    # decimal measurement leaves: pseudo-decimal beats lanes+zstd
    rngp = np.random.RandomState(0)  # irregular cents walk (seeded)
    cents = np.cumsum(rngp.randint(-60, 60, 2400)) + 100000
    prices = pd.Series(
        [[float(cents[8 * i + j]) / 100.0 for j in range(8)]
         for i in range(300)],
        dtype=object,
    )
    buf_pr = encode_nested(prices, "array<double>")
    _c, meta_pr, _p = blk.unframe(buf_pr)
    assert "e10" in meta_pr["tree"]["child"]     # decimal mode engaged
    # counterfactual: lanes+zstd of the same doubles is much larger
    flat = np.array([x for row in prices for x in row])
    lanes = blk.compress(flat.tobytes())
    assert len(buf_pr) < 0.8 * len(lanes)
    got = decode_nested(*blk.unframe(buf_pr)[1:])
    for a, b in zip(got, prices):
        assert list(a) == list(b)

    # adversarial doubles: exceptions (NaN/inf/-0.0) round-trip exactly
    # and non-decimal leaves fall back to lanes
    weird = pd.Series(
        [[1.25, float("nan"), float("inf"), -0.0, 3.5],
         [np.pi, np.e, 2**-40, -np.pi, 1e300]],
        dtype=object,
    )
    buf_w = encode_nested(weird, "array<double>")
    got = decode_nested(*blk.unframe(buf_w)[1:])
    for a, b in zip(got, weird):
        for x, y in zip(a, b):
            if np.isnan(y):
                assert np.isnan(x)
            else:
                assert x == y and np.signbit(x) == np.signbit(y)

    # irregular ints keep round-tripping (mode may be plain FoR)
    rng = np.random.RandomState(3)
    rnd = pd.Series([[int(v) for v in rng.randint(-2**60, 2**60, 5)]
                     for _ in range(50)], dtype=object)
    buf_r = encode_nested(rnd, "array<bigint>")
    got = decode_nested(*blk.unframe(buf_r)[1:])
    assert [list(x) for x in got] == [list(x) for x in rnd]


def test_bitpack_matches_bit_matrix_reference():
    """Round-6 bitpack rewrite (unpackbits over the LE byte view, n x 64
    uint8 intermediate) must stay BYTE-IDENTICAL to the original
    (n, width) uint64 shift-broadcast formulation — the wire format is
    pinned by every golden sha in the repo.  Checked for every width
    0..64 including the 2^63 boundary."""
    import numpy as np

    from deltoid_spark.kernels import blocks as blk

    def reference_pack(values, width):
        n = len(values)
        if n == 0 or width == 0:
            return b""
        v = values.astype(np.uint64, copy=False)
        shifts = np.arange(width, dtype=np.uint64)
        bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
        return np.packbits(bits.reshape(-1), bitorder="little").tobytes()

    rng = np.random.RandomState(7)
    for width in range(65):
        for n in (0, 1, 3, 257):
            if width == 64:
                v = rng.randint(0, 2**63, n, dtype=np.uint64) * 2 + rng.randint(
                    0, 2, n, dtype=np.uint64
                )
            else:
                v = rng.randint(0, 2**width if width else 1, n, dtype=np.uint64)
            packed = blk.bitpack(v, width)
            assert packed == reference_pack(v, width), (width, n)
            assert (blk.bitunpack(packed, n, width) == v).all(), (width, n)


# one small input per framed codec (plus the encode keywords it needs)
_CODEC_SAMPLES = {
    **{
        c: (["a", None, "é🎉", "", "a"], {})
        for c in ("plain", "dict", "rle", "front", "fsst")
    },
    "hex": (["00ff", None, "a1b2"], {}),
    "for": (pd.array([1, None, -(2**62), 5], dtype="Int64"), {}),
    "dint": (pd.array([1, None, -(2**62), 5], dtype="Int64"), {}),
    "fp": (pd.array([1.5, None, -0.25, 1e300], dtype="Float64"), {}),
    "chain": (["a\nb", "a\nc", None, "x"], {"group_sizes": np.array([3, 1])}),
    "mapdelta": (
        [{"k": "v"}, {"k": "w", "j": "z"}, None], {"group_sizes": np.array([3])}
    ),
    "strlist": ([["a", "b"], None, []], {}),
    "nested": (
        [{"a": 1, "b": [1.5]}, None], {"ddl": "struct<a:bigint,b:array<double>>"}
    ),
}


@pytest.mark.parametrize("codec", sorted(blocks.CODEC_IDS))
def test_every_wire_codec_dispatches_and_roundtrips(codec):
    """Every wire-format codec id has a dispatch entry, and a block
    encoded through api.encode_block decodes back through
    api.decode_block (and decode_block_arrow where one exists)."""
    assert codec in api.CODECS
    vals, kw = _CODEC_SAMPLES[codec]
    s = pd.Series(vals, dtype=vals.dtype if hasattr(vals, "dtype") else object)
    buf = api.encode_block(s, codec, **kw)
    assert blocks.unframe(buf)[0] == codec
    want = [None if v is pd.NA else v for v in s.tolist()]
    got = api.decode_block(buf)
    assert [None if v is pd.NA else v for v in got.tolist()] == want
    if api.CODECS[codec][2] is not None:
        assert api.decode_block_arrow(buf).to_pylist() == want
    else:
        with pytest.raises(ValueError, match="no arrow decode path"):
            api.decode_block_arrow(buf)


def test_unknown_codec_name_raises():
    with pytest.raises(ValueError, match="unknown codec"):
        api.encode_block(pd.Series(["a"], dtype=object), "lz4")


def test_sha256_column_arrow_matches_reference():
    """The Arrow digest equals the pandas reference digest on nulls,
    empty strings and non-ASCII values — also for a sliced array (a
    part of a larger split), whose buffers start at an offset."""
    import pyarrow as pa

    vals = ["", None, "héllo", "日本語", "", None, "🎉 emoji", "tab\tnul\x00", "ascii"]
    arr = pa.array(vals, type=pa.large_utf8())
    s = pd.Series(vals, dtype=object)
    assert api.sha256_column_arrow(arr) == api.sha256_column(s)
    for lo, hi in ((0, 4), (2, 7), (5, 9)):
        ref = api.sha256_column(s.iloc[lo:hi].reset_index(drop=True))
        assert api.sha256_column_arrow(arr.slice(lo, hi - lo)) == ref
