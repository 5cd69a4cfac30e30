"""CHAIN codec: deltoid-style inter-version content deltas.

Re-expresses the reference's snapshot chain
(``DeltaSnapshots``/``push_snapshot``/``to_full_snapshots``,
/root/reference/deltoid/src/snapshot/delta.rs:108-151) and its Vec edit
alphabet (``EltDelta::{Edit{index,item}, Add(delta), Remove{count}}``,
/root/reference/deltoid/src/vec.rs:103-137) as a columnar kernel:

* a file's commit chain = ordered versions of ``content`` within one
  ``(repo, path)`` group (rows must arrive group-contiguous, ordered);
* version 0 and every K-th version is a **keyframe** (full text) —
  mirrors "the first delta is a full snapshot" (delta.rs:137-151) while
  bounding decode cost;
* other versions store a positional line edit script vs the previous
  version: edit (index, new line), appended lines, tail-remove count —
  exactly the reference's stack-like positional diff (vec.rs:8-11,
  50-67: NOT an LCS), with consecutive removes coalesced into one count
  (vec.rs:61-64);
* a delta that would be larger than the full text degrades to a
  keyframe (short-circuit, analog of gen/structs.rs:457 equality check);
* nulls are explicit states: any null->x or x->null transition forces a
  keyframe, so value->null round-trips exactly — fixing the
  ``OptionDelta`` ambiguity the reference documents
  (/root/reference/deltoid-quickcheck-tests/src/main.rs:14-22).

Round-trip law (reference: deltoid-quickcheck-tests/src/main.rs:26-32):
``decode_chain(encode_chain(contents, groups)) == contents`` bytewise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from . import blocks
from .intcodec import pack_ints, pack_ints_z, unpack_ints, unpack_ints_z
from .strings import decode_plain, encode_plain_arrow

DEFAULT_KEYFRAME_INTERVAL = 32


def _version_deltas(a: np.ndarray, b: np.ndarray):
    """BOTH delta scripts (positional + splice) from one elementwise
    comparison of two line arrays — the hot path converts each version
    to an object array exactly once and shares the prefix comparison.

    Returns (edit_idx, edit_lines, adds, remove, splice_start,
    splice_del, splice_ins) with the array results as object ndarrays.
    """
    na, nb = len(a), len(b)
    m = min(na, nb)
    if m:
        neq = a[:m] != b[:m]
        edit_idx = np.nonzero(neq)[0]
        p = int(edit_idx[0]) if len(edit_idx) else m
    else:
        edit_idx = np.zeros(0, dtype=np.int64)
        p = 0
    elines = b[:m][edit_idx] if m else b[:0]
    adds = b[m:] if nb > m else b[:0]
    remove = na - nb if na > nb else 0
    max_s = m - p
    if max_s > 0:
        ne_tail = (a[na - max_s :] != b[nb - max_s :])[::-1]
        last_ne = np.nonzero(ne_tail)[0]
        s = int(last_ne[0]) if len(last_ne) else max_s
    else:
        s = 0
    return (
        edit_idx, elines, adds, remove,
        p, na - p - s, b[p : nb - s],
    )


def _script_cost(n_lines_chars: int, n_ints: int) -> int:
    return n_lines_chars + 8 * n_ints


# --- char-level intra-line refinement (the reference's own admitted gap:
# string.rs:37 "TODO: Improve delta space efficiency" — line-granular
# splices are wasteful when a version changes a few chars inside a LONG
# line, the minified/one-line-file case).  Applied per edited line, only
# in positional scripts touching <= CHAR_EDIT_MAX lines, and only when
# the char splice actually beats storing the full new line (cost gate) —
# so corpora without long-line edits encode byte-identically to before.
CHAR_EDIT_MAX = 2
_CHAR_INT_COST = 6  # cs + cd as packed ints, amortized


def _char_refine(
    line_dict: pa.Array,
    old_lines: list,
    idxs: np.ndarray,
    new_codes: np.ndarray,
    bits: list,
    cs_out: list,
    cd_out: list,
    frags: list,
) -> np.ndarray:
    """Try char-splice mode for each (old line -> new line) edit pair:
    store (col_start, del_count, fragment) instead of the whole new
    line when that is smaller.  Appends per-edit bookkeeping; returns
    the codes of edits that stay full-line (their entries in the delta
    line stream)."""
    keep: list[int] = []
    for idx, ncode in zip(idxs.tolist(), new_codes.tolist()):
        old = old_lines[idx]
        new = line_dict[int(ncode)].as_py()
        lim = min(len(old), len(new))
        p = 0
        while p < lim and old[p] == new[p]:
            p += 1
        s = 0
        while s < lim - p and old[len(old) - 1 - s] == new[len(new) - 1 - s]:
            s += 1
        frag = new[p : len(new) - s]
        if len(frag) + _CHAR_INT_COST < len(new):
            bits.append(True)
            cs_out.append(p)
            cd_out.append(len(old) - p - s)
            frags.append(frag)
        else:
            bits.append(False)
            keep.append(ncode)
    return np.array(keep, dtype=np.int64)


def _precompute_deltas(
    codes: np.ndarray,
    loffs: np.ndarray,
    line_lens: np.ndarray,
    clen: np.ndarray,
    cand: np.ndarray,
    keyframe_cost_ints: int = 3,
):
    """Vectorized `_version_deltas` + script-cost evaluation for EVERY
    candidate delta row at once (cand = ascending row indices whose
    previous version is the physically preceding row).

    The per-version loop used to call `_version_deltas` ~|rows| times;
    the comparisons were already C-speed int-code compares, but the
    per-call numpy dispatch dominated.  Here all prefix comparisons run
    as ONE segmented elementwise compare over a gathered index space,
    per-segment edit lists fall out of a single flatnonzero +
    searchsorted, and the suffix (splice) comparison is a second
    segmented pass over only the undecided tails.  Outputs are exactly
    the values the loop used to compute row by row, so the encoded
    bytes are identical (pinned by the golden-sha tests).

    Returns (choice, ecounts, eoff, local_idx, flat_elines, p, s,
    na, nb, m) where choice is 0=keyframe, 1=splice, 2=positional.

    Index/temporary dtype is int32 when the block's line count allows
    (always, in practice — blocks are bounded by target_rows): the big
    temporaries here (rep, j, the gather indices) are line-count-sized,
    and halving their width halves the traffic on this bandwidth-bound
    host.  Values are unchanged, so encoded bytes stay identical.
    """
    idt = np.int32 if len(codes) < (1 << 31) - 64 else np.int64
    prev_lo = loffs[cand - 1].astype(idt)
    cur_lo = loffs[cand].astype(idt)
    cur_hi = loffs[cand + 1].astype(idt)
    na = cur_lo - prev_lo
    nb = cur_hi - cur_lo
    m = np.minimum(na, nb)
    D = len(cand)
    seg_off = np.concatenate(([0], np.cumsum(m, dtype=np.int64))).astype(idt)
    tot = int(seg_off[-1]) if D else 0
    rep = np.repeat(np.arange(D, dtype=idt), m)
    j = np.arange(tot, dtype=idt) - seg_off[rep]
    neq = codes[prev_lo[rep] + j] != codes[cur_lo[rep] + j]
    nz = np.flatnonzero(neq)
    seg_nz = rep[nz]
    ecounts = np.bincount(seg_nz, minlength=D).astype(np.int64)
    eoff = np.concatenate(([0], np.cumsum(ecounts)))
    local_idx = (nz - seg_off[seg_nz]).astype(idt)
    flat_elines = codes[cur_lo[seg_nz] + local_idx]
    # first mismatch per segment (defaults to m: full prefix match)
    p = m.copy()
    if len(nz):
        useg, ufirst = np.unique(seg_nz, return_index=True)
        p[useg] = local_idx[ufirst]
    # longest clean suffix within the undecided middle (reference
    # semantics: s = index of first mismatch scanning backwards)
    max_s = m - p
    s = np.zeros(D, dtype=idt)
    sub = np.flatnonzero(max_s > 0)
    if len(sub):
        ms = max_s[sub]
        off2 = np.concatenate(([0], np.cumsum(ms, dtype=np.int64))).astype(idt)
        rep2 = np.repeat(np.arange(len(sub), dtype=idt), ms)
        j2 = np.arange(int(off2[-1]), dtype=idt) - off2[rep2]
        a_start = prev_lo[sub] + na[sub] - ms
        b_start = cur_lo[sub] + nb[sub] - ms
        neq2 = codes[a_start[rep2] + j2] != codes[b_start[rep2] + j2]
        nz2 = np.flatnonzero(neq2)
        s_sub = ms.copy()
        if len(nz2):
            u2, f2 = np.unique(rep2[nz2][::-1], return_index=True)
            last_local = nz2[::-1][f2] - off2[u2]
            s_sub[u2] = ms[u2] - 1 - last_local
        s[sub] = s_sub
    # script costs (all cur-side, via the line-length prefix sums)
    echars = np.zeros(D, dtype=np.int64)
    if len(nz):
        echars = np.bincount(
            seg_nz, weights=line_lens[cur_lo[seg_nz] + local_idx], minlength=D
        ).astype(np.int64)
    achars = clen[cur_hi] - clen[cur_lo + m]
    pos_cost = echars + achars + 8 * (ecounts + keyframe_cost_ints)
    sins_cnt = nb - p - s
    spl_chars = clen[cur_lo + p + sins_cnt] - clen[cur_lo + p]
    spl_cost = spl_chars + 8 * keyframe_cost_ints
    text_chars = clen[cur_hi] - clen[cur_lo] + (nb - 1)
    choice = np.full(D, 2, dtype=np.int8)
    choice[spl_cost < pos_cost] = 1
    choice[np.minimum(pos_cost, spl_cost) >= text_chars] = 0
    return choice, ecounts, eoff, local_idx, flat_elines, p, s, na, nb, m


def encode_chain(
    contents: pd.Series,
    group_sizes: np.ndarray,
    keyframe_interval: int = DEFAULT_KEYFRAME_INTERVAL,
    level: int | None = None,
    base_texts: list | None = None,
    base_versions: np.ndarray | None = None,
) -> bytes:
    """Encode a content column whose rows are group-contiguous chains.

    base_texts / base_versions implement the reference's incremental
    ``push_snapshot`` (delta.rs:108-125): when a group continues an
    already-encoded chain, its first version deltas against the supplied
    base text instead of opening with a keyframe, and the keyframe
    cadence counts from base_versions[g] so appended fragments keep the
    same bounded decode depth.  The decoder must be handed the same
    base texts (the previous fragment's tails) — meta records which
    groups are seeded.

    Accepts either a pandas Series or a pyarrow string array; the whole
    kernel is Arrow-native (round 3): lines are dictionary-encoded ONCE
    and every per-version comparison runs on int codes (exact: Arrow's
    hashing is byte-aware), keyframe texts and delta lines leave via
    Arrow takes into encode_plain_arrow — the content column never
    materializes as Python strings.
    """
    if isinstance(contents, pa.ChunkedArray):
        contents = contents.combine_chunks()
    if isinstance(contents, pa.Array):
        arr = contents if contents.type == pa.large_utf8() else contents.cast(pa.large_utf8())
    else:
        arr = pa.Array.from_pandas(contents, type=pa.large_utf8())
    n = len(arr)
    assert int(np.sum(group_sizes)) == n, "group sizes must cover all rows"
    is_null = (
        pc.is_null(arr).to_numpy(zero_copy_only=False) if n else np.zeros(0, dtype=bool)
    )
    # ONE Arrow pass splits every version into lines, ONE dictionary
    # encode maps every line to an int code; version i's lines are then
    # the int slice codes[loffs[i]:loffs[i+1]] and all elementwise
    # line comparisons are C integer compares
    if n:
        la = pc.split_pattern(arr, pattern="\n")
        ld = pc.dictionary_encode(la.values)
        # keep Arrow's native int32 dictionary codes: every compare and
        # gather in the delta precompute moves half the bytes an int64
        # upcast would (line counts per block are far below 2^31)
        codes = ld.indices.to_numpy()
        if codes.dtype != np.int32:
            codes = codes.astype(np.int32)
        line_dict = ld.dictionary
        loffs = la.offsets.to_numpy().astype(np.int64)
        # per-line char counts via the (small) dictionary + prefix sums:
        # every script-cost term in the loop is O(1) lookups
        dlens = pc.utf8_length(line_dict).to_numpy(zero_copy_only=False).astype(np.int64)
        line_lens = dlens[codes] if len(codes) else np.zeros(0, dtype=np.int64)
        clen = np.concatenate(([0], np.cumsum(line_lens)))
    else:
        codes = np.zeros(0, dtype=np.int32)
        line_dict = pa.array([], type=pa.large_utf8())
        loffs = np.zeros(1, dtype=np.int64)
        line_lens = np.zeros(0, dtype=np.int64)
        clen = np.zeros(1, dtype=np.int64)
    n_groups = len(group_sizes)
    if base_texts is None:
        base_texts = [None] * n_groups
    if base_versions is None:
        base_versions = np.zeros(n_groups, dtype=np.int64)
    seeded = np.array([t is not None for t in base_texts], dtype=bool)

    unseen: dict[str, int] = {}

    def _seed_codes(text: str) -> np.ndarray:
        """Map a seed text's lines into code space: dictionary hits get
        their code, lines outside the dictionary get stable negative
        ids (equal seed lines share one id; never equal to any code)."""
        lines = text.split("\n")
        hits = pc.index_in(
            pa.array(lines, type=pa.large_utf8()), value_set=line_dict
        ).fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
        if (hits < 0).any():
            hits = hits.copy()
            for j, ln in enumerate(lines):
                if hits[j] < 0:
                    code = unseen.get(ln)
                    if code is None:
                        code = -(len(unseen) + 1)
                        unseen[ln] = code
                    hits[j] = code
        return hits

    is_key = np.zeros(n, dtype=bool)
    key_idx: list[int] = []
    # per delta row: cnt1/cnt2/cnt3 are (edit_count, add_count,
    # remove_count) for positional scripts, (ins_count, start, del_count)
    # for splice scripts; splice_flags picks the interpretation
    edit_counts: list[int] = []
    add_counts: list[int] = []
    remove_counts: list[int] = []
    edit_indices: list[np.ndarray] = []
    delta_lines: list[np.ndarray] = []  # per-script line arrays, concat once
    splice_flags: list[bool] = []
    # char-splice refinement streams (one entry per flat edit entry /
    # per char-mode edit respectively)
    char_bits_l: list[bool] = []
    char_cs: list[int] = []
    char_cd: list[int] = []
    char_frags: list[str] = []

    # candidate rows for the vectorized delta path: previous version is
    # the physically preceding row (v > 0), neither side null, cadence
    # doesn't force a keyframe.  Cost-degraded keyframes don't affect
    # later comparisons (the comparison chain is always vs the raw
    # previous version), so the whole pair set is known upfront.
    gs = np.asarray(group_sizes, dtype=np.int64)
    if n:
        group_starts = np.concatenate(([0], np.cumsum(gs)))[:-1]
        v_pos = np.arange(n, dtype=np.int64) - np.repeat(group_starts, gs)
        v0_rep = np.repeat(np.asarray(base_versions, dtype=np.int64), gs)
        cadence_key = (v0_rep + v_pos) % keyframe_interval == 0
        prev_row_null = np.concatenate(([True], is_null[:-1]))
        cand_mask = (~cadence_key) & (~is_null) & (v_pos > 0) & (~prev_row_null)
    else:
        cand_mask = np.zeros(0, dtype=bool)
    cand = np.flatnonzero(cand_mask)
    if len(cand):
        (vchoice, vecounts, veoff, vlocal, velines, vp, vs, vna, vnb, vm) = (
            _precompute_deltas(codes, loffs, line_lens, clen, cand)
        )

    if not seeded.any():
        # Unseeded blocks (the encode hot path): every delta row comes
        # from the contiguous candidate set, so ALL per-delta streams
        # fall out of the precompute vectorized — no per-row python.
        # The loop below survives only for seeded appends (base text in
        # a previous fragment), where the char-splice trial and seed
        # code mapping are inherently per-group.
        is_key = ~cand_mask
        if len(cand):
            is_key[cand[vchoice == 0]] = True
            dmask = vchoice != 0
            spl_d = vchoice[dmask] == 1
            p_d = vp[dmask].astype(np.int64)
            s_d = vs[dmask].astype(np.int64)
            na_d = vna[dmask].astype(np.int64)
            nb_d = vnb[dmask].astype(np.int64)
            m_d = vm[dmask].astype(np.int64)
            ec_d = vecounts[dmask]
            lo_d = loffs[cand[dmask]]
            splice_arr = spl_d
            ecnt_arr = np.where(spl_d, nb_d - p_d - s_d, ec_d)
            acnt_arr = np.where(spl_d, p_d, nb_d - m_d)
            rcnt_arr = np.where(spl_d, na_d - p_d - s_d, np.maximum(na_d - nb_d, 0))
            pos_e = np.repeat(vchoice == 2, vecounts)  # per flat edit entry
            flat_idx = vlocal[pos_e].astype(np.int64)
            # delta line stream = per delta row, in row order:
            #   splice     -> codes[lo+p : hi-s]
            #   positional -> codes at each edit position, then codes[lo+m : hi]
            # assembled as one gather-index array via range expansion
            L1 = np.where(spl_d, nb_d - p_d - s_d, ec_d)
            L2 = np.where(spl_d, 0, nb_d - m_d)
            out_off = np.concatenate(([0], np.cumsum(L1 + L2)))
            gidx = np.empty(int(out_off[-1]), dtype=np.int64)
            dest1 = _expand_ranges(out_off[:-1], L1)
            mask1 = np.repeat(spl_d, L1)
            gidx[dest1[mask1]] = _expand_ranges((lo_d + p_d)[spl_d], L1[spl_d])
            rep_e = np.repeat(np.arange(len(cand), dtype=np.int64), vecounts)
            gidx[dest1[~mask1]] = (
                loffs[cand][rep_e[pos_e]] + vlocal[pos_e].astype(np.int64)
            )
            gidx[_expand_ranges((out_off[:-1] + L1)[~spl_d], L2[~spl_d])] = (
                _expand_ranges((lo_d + m_d)[~spl_d], L2[~spl_d])
            )
            flat_line_codes = codes[gidx]
        else:
            splice_arr = np.zeros(0, dtype=bool)
            ecnt_arr = acnt_arr = rcnt_arr = np.zeros(0, dtype=np.int64)
            flat_idx = np.zeros(0, dtype=np.int64)
            flat_line_codes = np.zeros(0, dtype=np.int64)
        key_idx_arr = np.flatnonzero(is_key & ~is_null)
        return _pack_chain(
            n, keyframe_interval, group_sizes, seeded, is_key, is_null,
            arr, line_dict, level, key_idx_arr, splice_arr,
            ecnt_arr, acnt_arr, rcnt_arr, flat_idx, flat_line_codes,
            char_streams_data=None,
        )

    cursor = 0

    row = 0
    for g, gsize in enumerate(group_sizes):
        v0 = int(base_versions[g])
        for v in range(int(gsize)):
            i = row + v
            cur_null = bool(is_null[i])
            force_key = True
            if cand_mask[i]:
                c = cursor
                cursor += 1
                lo, hi = loffs[i], loffs[i + 1]
                ch = vchoice[c]
                ecnt = int(vecounts[c])
                # NOTE: no char-splice trial on this (contiguous) path,
                # deliberately — measured: when both versions of a pair
                # sit in the SAME compressed block, zstd's cross-version
                # matching already captures the intra-line redundancy,
                # and explicit char deltas came out net-NEGATIVE on
                # every fixture shape (BASELINE.md round-5 "char-level
                # delta" table).  The refinement pays exactly where the
                # previous text is NOT in this block's streams: the
                # seeded append path below.
                if ch == 1:  # splice wins
                    p_, s_ = int(vp[c]), int(vs[c])
                    sins = codes[lo + p_ : hi - s_]
                    splice_flags.append(True)
                    edit_counts.append(len(sins))
                    add_counts.append(p_)
                    remove_counts.append(int(vna[c]) - p_ - s_)
                    edit_indices.append(np.zeros(0, dtype=np.int64))
                    delta_lines.append(sins)
                    force_key = False
                elif ch == 2:  # positional wins (full-line edits)
                    e0, e1 = int(veoff[c]), int(veoff[c + 1])
                    m_ = int(vm[c])
                    splice_flags.append(False)
                    edit_counts.append(ecnt)
                    add_counts.append(int(vnb[c]) - m_)
                    remove_counts.append(max(int(vna[c] - vnb[c]), 0))
                    edit_indices.append(vlocal[e0:e1])
                    char_bits_l.extend([False] * ecnt)
                    delta_lines.append(velines[e0:e1])
                    delta_lines.append(codes[lo + m_ : hi])
                    force_key = False
                # ch == 0: neither script pays -> keyframe
            elif (
                v == 0
                and seeded[g]
                and not cur_null
                and (v0 % keyframe_interval) != 0
            ):
                # seeded continuation: first version deltas against the
                # supplied base text (rare; per-group python path)
                seed_lines = base_texts[g].split("\n")
                seed_arr = _seed_codes(base_texts[g])
                lo, hi = loffs[i], loffs[i + 1]
                eidx, elines, adds, rem, sp, sdel, sins = _version_deltas(
                    seed_arr, codes[lo:hi]
                )
                m_ = hi - lo if len(seed_arr) > hi - lo else len(seed_arr)
                echars = int(line_lens[lo + eidx].sum()) if len(eidx) else 0
                achars = int(clen[hi] - clen[lo + m_])
                pos_cost = _script_cost(echars + achars, len(eidx) + 3)
                spl_cost = _script_cost(
                    int(clen[lo + sp + len(sins)] - clen[lo + sp]), 3
                )
                text_chars = int(clen[hi] - clen[lo]) + (hi - lo - 1)
                # char-splice trial (string.rs:37's admitted gap): the
                # base text lives in the PREVIOUS fragment's streams, so
                # zstd can't match against it here — a few changed chars
                # inside a long line beat every line-level script,
                # including the keyframe degrade (a single-line file's
                # "new line" IS the whole text, re-stored per append
                # without this)
                trial = None
                if 0 < len(eidx) <= CHAR_EDIT_MAX:
                    t_bits: list = []
                    t_cs: list = []
                    t_cd: list = []
                    t_frags: list = []
                    kept = _char_refine(
                        line_dict, seed_lines, eidx, elines,
                        t_bits, t_cs, t_cd, t_frags,
                    )
                    if any(t_bits):
                        kept_chars = int(dlens[kept].sum()) if len(kept) else 0
                        char_cost = (
                            kept_chars + sum(len(f) for f in t_frags)
                            + _CHAR_INT_COST * len(t_frags)
                            + achars + 8 * (len(eidx) + 3)
                        )
                        if char_cost < min(pos_cost, spl_cost, text_chars):
                            trial = (kept, t_bits, t_cs, t_cd, t_frags)
                if trial is not None:
                    kept, t_bits, t_cs, t_cd, t_frags = trial
                    splice_flags.append(False)
                    edit_counts.append(len(eidx))
                    add_counts.append(len(adds))
                    remove_counts.append(rem)
                    edit_indices.append(eidx)
                    char_bits_l.extend(t_bits)
                    char_cs.extend(t_cs)
                    char_cd.extend(t_cd)
                    char_frags.extend(t_frags)
                    delta_lines.append(kept)
                    delta_lines.append(adds)
                    force_key = False
                elif min(pos_cost, spl_cost) >= text_chars:
                    pass  # degrade to keyframe
                elif spl_cost < pos_cost:
                    splice_flags.append(True)
                    edit_counts.append(len(sins))
                    add_counts.append(sp)
                    remove_counts.append(sdel)
                    edit_indices.append(np.zeros(0, dtype=np.int64))
                    delta_lines.append(sins)
                    force_key = False
                else:
                    splice_flags.append(False)
                    edit_counts.append(len(eidx))
                    add_counts.append(len(adds))
                    remove_counts.append(rem)
                    edit_indices.append(eidx)
                    char_bits_l.extend([False] * len(eidx))
                    delta_lines.append(elines)
                    delta_lines.append(adds)
                    force_key = False
            if force_key:
                is_key[i] = True
                if not cur_null:
                    key_idx.append(i)
        row += int(gsize)

    return _pack_chain(
        n, keyframe_interval, group_sizes, seeded, is_key, is_null, arr,
        line_dict, level,
        np.array(key_idx, dtype=np.int64),
        np.array(splice_flags, dtype=bool),
        np.array(edit_counts, dtype=np.int64),
        np.array(add_counts, dtype=np.int64),
        np.array(remove_counts, dtype=np.int64),
        np.concatenate(edit_indices) if edit_indices else np.zeros(0, np.int64),
        np.concatenate(delta_lines) if delta_lines else np.zeros(0, dtype=np.int64),
        (char_bits_l, char_cs, char_cd, char_frags),
    )


def _expand_ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat int64 index array [starts[0]..+lens[0], starts[1]..+lens[1], …]."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    rep = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    off = np.concatenate(([0], np.cumsum(lens)))
    return starts[rep] + (np.arange(total, dtype=np.int64) - off[rep])


def _pack_chain(
    n: int,
    keyframe_interval: int,
    group_sizes,
    seeded: np.ndarray,
    is_key: np.ndarray,
    is_null: np.ndarray,
    arr: pa.Array,
    line_dict: pa.Array,
    level: int | None,
    key_idx: np.ndarray,
    splice_arr: np.ndarray,
    ecnt_arr: np.ndarray,
    acnt_arr: np.ndarray,
    rcnt_arr: np.ndarray,
    flat_idx: np.ndarray,
    flat_line_codes: np.ndarray,
    char_streams_data: tuple | None,
) -> bytes:
    """Serialize the chain streams (shared by the vectorized unseeded
    path and the seeded per-group loop; stream layout unchanged, so
    blocks stay byte-identical to the pre-split encoder)."""
    gmeta, gpay = pack_ints(np.asarray(group_sizes, dtype=np.int64))
    seed_bits = blocks.pack_mask(seeded)
    key_bits = blocks.pack_mask(is_key)
    null_bits = blocks.pack_mask(is_null)
    splice_bits = blocks.pack_mask(splice_arr)
    # keyframe texts and delta lines leave as Arrow takes (C gathers),
    # never as Python strings
    keys_block = encode_plain_arrow(
        arr.take(pa.array(np.asarray(key_idx, dtype=np.int64))), level
    )
    emeta, epay = pack_ints(ecnt_arr)
    ameta, apay = pack_ints(acnt_arr)
    rmeta, rpay = pack_ints(rcnt_arr)
    imeta, ipay = pack_ints_z(np.asarray(flat_idx, dtype=np.int64))
    lines_block = encode_plain_arrow(
        line_dict.take(pa.array(np.asarray(flat_line_codes, dtype=np.int64))), level
    )
    meta = {
        "n": n, "k": keyframe_interval,
        "groups": gmeta, "gplen": len(gpay),
        "kb_len": len(key_bits), "nb_len": len(null_bits),
        "seeded": bool(seeded.any()), "sd_len": len(seed_bits),
        "sb_len": len(splice_bits), "n_deltas": len(splice_arr),
        "keys_len": len(keys_block),
        "ec": emeta, "eclen": len(epay),
        "ac": ameta, "aclen": len(apay),
        "rc": rmeta, "rclen": len(rpay),
        "ei": imeta, "eilen": len(ipay),
    }
    char_streams: tuple[bytes, ...] = ()
    if char_streams_data is not None and any(char_streams_data[0]):
        # char-splice streams ship ONLY when at least one edit took the
        # refinement — blocks without long-line edits stay byte-identical
        # to the pre-refinement format (golden-shas unchanged)
        char_bits_l, char_cs, char_cd, char_frags = char_streams_data
        char_bits = blocks.pack_mask(np.array(char_bits_l, dtype=bool))
        csmeta, cspay = pack_ints(np.array(char_cs, dtype=np.int64))
        cdmeta, cdpay = pack_ints(np.array(char_cd, dtype=np.int64))
        frags_block = encode_plain_arrow(
            pa.array(char_frags, type=pa.large_utf8()), level
        )
        meta.update(
            n_edits=len(char_bits_l), cb_len=len(char_bits),
            cs=csmeta, cslen=len(cspay),
            cd=cdmeta, cdlen=len(cdpay),
            frags_len=len(frags_block),
        )
        char_streams = (char_bits, cspay, cdpay, frags_block)
    payload = b"".join(
        (gpay, seed_bits, key_bits, null_bits, splice_bits, keys_block,
         epay, apay, rpay, ipay, *char_streams, lines_block)
    )
    return blocks.frame("chain", meta, payload)


def decode_chain_arrow(
    meta: dict, payload: bytes, base_texts: list | None = None
) -> pa.Array:
    """Chain decode in dictionary-code space, returning a LargeStringArray.

    The left-fold over versions is inherently sequential per group, but
    nothing about it needs Python strings: keyframe texts, delta lines
    and seeded base texts are split/dictionary-encoded ONCE (the encode
    side's trick in reverse), every script application is numpy slicing
    / fancy assignment on small int arrays, and all row texts
    materialize at the end through a single Arrow take + binary_join —
    one C pass over the line buffers instead of a ``"\\n".join`` per
    row.  The Arrow result crosses the Spark boundary without ever
    materializing Python strings (the decode job wraps it in an
    Arrow-backed pandas column); output is byte-identical to the old
    per-row loop (pinned by the golden-sha and e2e parity tests).
    """
    from .strings import decode_plain_arrow

    n = meta["n"]
    p = 0
    gplen = meta["gplen"]
    group_sizes = unpack_ints(meta["groups"], payload[p : p + gplen]); p += gplen
    seeded = blocks.unpack_mask(payload[p : p + meta["sd_len"]], len(group_sizes)); p += meta["sd_len"]
    if meta.get("seeded") and base_texts is None:
        raise ValueError("chain block has seeded groups; decode needs base_texts")
    is_key = blocks.unpack_mask(payload[p : p + meta["kb_len"]], n); p += meta["kb_len"]
    is_null = blocks.unpack_mask(payload[p : p + meta["nb_len"]], n); p += meta["nb_len"]
    splice = blocks.unpack_mask(payload[p : p + meta["sb_len"]], meta["n_deltas"]); p += meta["sb_len"]
    _, kmeta, kpay = blocks.unframe(payload[p : p + meta["keys_len"]]); p += meta["keys_len"]
    key_arr, _kmask = decode_plain_arrow(kmeta, kpay)
    edit_counts = unpack_ints(meta["ec"], payload[p : p + meta["eclen"]]); p += meta["eclen"]
    add_counts = unpack_ints(meta["ac"], payload[p : p + meta["aclen"]]); p += meta["aclen"]
    remove_counts = unpack_ints(meta["rc"], payload[p : p + meta["rclen"]]); p += meta["rclen"]
    edit_idx_flat = unpack_ints_z(meta["ei"], payload[p : p + meta["eilen"]]); p += meta["eilen"]
    # char-splice refinement streams (absent on blocks encoded without
    # any char-mode edit, including every pre-refinement block)
    ccum = cb_l = cs_arr = cd_arr = frag_l = None
    if "cb_len" in meta:
        char_bits = blocks.unpack_mask(
            payload[p : p + meta["cb_len"]], meta["n_edits"]
        ); p += meta["cb_len"]
        cs_arr = unpack_ints(meta["cs"], payload[p : p + meta["cslen"]]); p += meta["cslen"]
        cd_arr = unpack_ints(meta["cd"], payload[p : p + meta["cdlen"]]); p += meta["cdlen"]
        _, fmeta, fpay = blocks.unframe(payload[p : p + meta["frags_len"]]); p += meta["frags_len"]
        frag_arr, _fm = decode_plain_arrow(fmeta, fpay)
        frag_l = frag_arr.to_pylist()
        cb_l = char_bits.tolist()
        ccum = np.concatenate(
            ([0], np.cumsum(char_bits.astype(np.int64)))
        ).tolist()
    _, lmeta, lpay = blocks.unframe(payload[p:])
    dl_arr, _dmask = decode_plain_arrow(lmeta, lpay)

    # line universe = keyframe lines ++ delta lines ++ seeded base lines,
    # dictionary-encoded once; every fold step below is int-code numpy
    key_la = pc.split_pattern(key_arr, pattern="\n")
    key_loffs = key_la.offsets.to_numpy().astype(np.int64)
    seeded_gs = np.flatnonzero(seeded)
    base_list = []
    for g in seeded_gs:
        if base_texts[g] is None:
            raise ValueError(f"seeded group {g} has no base text")
        base_list.append(base_texts[g])
    base_la = pc.split_pattern(
        pa.array(base_list, type=pa.large_utf8()), pattern="\n"
    )
    base_loffs = base_la.offsets.to_numpy().astype(np.int64)
    universe = pa.concat_arrays(
        [key_la.values.cast(pa.large_utf8()), dl_arr, base_la.values.cast(pa.large_utf8())]
    )
    dct = pc.dictionary_encode(universe)
    # int32 code space end-to-end (native Arrow dictionary indices):
    # halves the fold's copy traffic and the final take's index bytes
    all_codes = dct.indices.to_numpy()
    if all_codes.dtype != np.int32:
        all_codes = all_codes.astype(np.int32)
    n_key_lines = len(key_la.values)
    n_dl = len(dl_arr)
    key_codes = all_codes[:n_key_lines]
    dl_codes = all_codes[n_key_lines : n_key_lines + n_dl]
    base_codes = all_codes[n_key_lines + n_dl :]
    base_of_group = {int(g): s for s, g in enumerate(seeded_gs)}

    # ---- per-row output line counts, vectorized (segmented cumsum) ----
    # every row's line count is known BEFORE the fold: keyframes from the
    # key text line offsets, delta rows as prev_len + d where d is
    # +adds-removes (positional) / +ins-del (splice); anchors (keyframes,
    # nulls, seeded group starts) reset the running value.  This lets the
    # fold write every version directly into ONE preallocated flat code
    # buffer — no per-version allocations, no end-of-decode concatenate.
    gs_arr = np.asarray(group_sizes, dtype=np.int64)
    group_starts = np.concatenate(([0], np.cumsum(gs_arr)))[:-1] if len(gs_arr) else np.zeros(0, np.int64)
    d = np.zeros(n, dtype=np.int64)
    drows = np.flatnonzero(~is_key) if n else np.zeros(0, np.int64)
    if len(drows):
        d[drows] = np.where(
            splice, edit_counts - remove_counts, add_counts - remove_counts
        )
    anchor = is_key.copy() if n else np.zeros(0, dtype=bool)
    anchor_val = np.zeros(n, dtype=np.int64)
    key_rows = np.flatnonzero(is_key & ~is_null)
    anchor_val[key_rows] = np.diff(key_loffs)[: len(key_rows)]
    if len(seeded_gs):
        base_lens = np.diff(base_loffs)
        for s, g in enumerate(seeded_gs):
            if gs_arr[g] == 0:
                continue
            r0 = int(group_starts[g])
            if not is_key[r0]:  # seeded first row deltas against the base
                anchor[r0] = True
                anchor_val[r0] = int(base_lens[s]) + int(d[r0])
    if n:
        cs = np.cumsum(d)
        adj = np.where(anchor, anchor_val - cs, 0)
        last_anchor = np.maximum.accumulate(np.where(anchor, np.arange(n), -1))
        # rows before any anchor can't exist (row 0 is always a keyframe
        # or a seeded anchor), but guard the -1 for empty-group layouts
        lens_rows = np.where(
            last_anchor >= 0, adj[np.maximum(last_anchor, 0)] + cs, 0
        )
        lens_rows[is_null] = 0
    else:
        lens_rows = np.zeros(0, dtype=np.int64)
    row_offs = np.concatenate(([0], np.cumsum(lens_rows)))
    flat = np.empty(int(row_offs[-1]), dtype=np.int32)

    # python-list cursors: scalar indexing into lists is ~3x cheaper
    # than numpy scalar extraction inside the 1-iteration-per-version loop
    ec_l = edit_counts.tolist()
    ac_l = add_counts.tolist()
    rc_l = remove_counts.tolist()
    sp_l = splice.tolist()
    key_l = is_key.tolist()
    null_l = is_null.tolist()

    ki = 0          # keyframe cursor
    di = 0          # delta row cursor
    ei = 0          # flat edit-index cursor
    li = 0          # delta line cursor
    fi = 0          # char-splice cursor (cs/cd/frag streams)
    dict_vals = dct.dictionary
    dict_len = len(dict_vals)
    extra: list[str] = []  # char-spliced lines, codes dict_len + i
    row = 0
    for g, gsize in enumerate(group_sizes):
        if seeded[g]:
            s = base_of_group[int(g)]
            prev: np.ndarray | None = base_codes[base_loffs[s] : base_loffs[s + 1]]
        else:
            prev = None
        for i in range(row, row + int(gsize)):
            if key_l[i]:
                if null_l[i]:
                    prev = None
                else:
                    cur = flat[row_offs[i] : row_offs[i + 1]]
                    cur[:] = key_codes[key_loffs[ki] : key_loffs[ki + 1]]; ki += 1
                    prev = cur
            else:
                c1 = ec_l[di]; c2 = ac_l[di]; c3 = rc_l[di]
                is_splice = sp_l[di]
                di += 1
                cur = flat[row_offs[i] : row_offs[i + 1]]
                if is_splice:  # (ins_count, start, del_count)
                    cur[:c2] = prev[:c2]
                    cur[c2 : c2 + c1] = dl_codes[li : li + c1]; li += c1
                    cur[c2 + c1 :] = prev[c2 + c3 :]
                else:  # (edit_count, add_count, remove_count)
                    idx = edit_idx_flat[ei : ei + c1]
                    nchar = (ccum[ei + c1] - ccum[ei]) if ccum is not None else 0
                    # edit indices are < m = min(na, nb), so they always
                    # land inside the tail-trimmed region
                    keep = len(prev) - c3
                    cur[:keep] = prev[:keep]
                    if nchar == 0:
                        elines = dl_codes[li : li + c1]; li += c1
                        if c1:
                            cur[idx] = elines
                    else:
                        # mixed full-line / char-splice edits: char-mode
                        # lines materialize from the PREVIOUS version's
                        # line text and get fresh codes past the dict
                        for j in range(c1):
                            ij = int(idx[j])
                            if cb_l[ei + j]:
                                oc = int(prev[ij])
                                old = (
                                    dict_vals[oc].as_py()
                                    if oc < dict_len
                                    else extra[oc - dict_len]
                                )
                                csv = int(cs_arr[fi]); cdv = int(cd_arr[fi])
                                newt = old[:csv] + frag_l[fi] + old[csv + cdv :]
                                fi += 1
                                cur[ij] = dict_len + len(extra)
                                extra.append(newt)
                            else:
                                cur[ij] = dl_codes[li]; li += 1
                    ei += c1
                    if c2:
                        cur[keep:] = dl_codes[li : li + c2]
                    li += c2
                prev = cur
        row += int(gsize)

    # one materialization: flat codes -> take -> LargeList -> binary_join
    dictionary = (
        pa.concat_arrays(
            [dict_vals.cast(pa.large_utf8()), pa.array(extra, type=pa.large_utf8())]
        )
        if extra
        else dict_vals
    )
    values = dictionary.take(pa.array(flat))
    list_arr = pa.LargeListArray.from_arrays(pa.array(row_offs, type=pa.int64()), values)
    joined = pc.binary_join(list_arr, pa.scalar("\n", type=pa.large_utf8()))
    if is_null.any():
        # null rows have zero-length slots; re-take with a validity mask
        return joined.take(pa.array(np.arange(n, dtype=np.int64), mask=is_null))
    return joined


def decode_chain(meta: dict, payload: bytes, base_texts: list | None = None) -> pd.Series:
    """Object-series facade over :func:`decode_chain_arrow` (kernel API
    contract: pandas in / pandas out, nulls as None)."""
    arr = decode_chain_arrow(meta, payload, base_texts)
    if len(arr) == 0:
        return pd.Series([], dtype=object)
    return arr.to_pandas().astype(object)
