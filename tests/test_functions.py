"""Unit tests for the training-data ops (dedup / similarity / text /
multimodal) against local ground truth."""

from __future__ import annotations

import numpy as np
import pytest

from deltoid_spark.functions import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en", "s0", 60),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en", "s1", 60),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat again and again", "en", "s2", 60),  # near dup
        (3, "completely different text about compression engines and columnar codecs", "en", "s3", 71),
        (4, "der schnelle braune fuchs springt wieder und wieder", "de", "s4", 51),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dupes(docs):
    res = {r["fp"]: (r["n_copies"], r["keeper"]) for r in dedup.exact_dupes(docs).collect()}
    assert len(res) == 4  # 5 docs, one exact pair
    assert (2, 0) in res.values()


def test_minhash_near_dups_collide_more(docs):
    sigs = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(dedup.N_MINHASH))
            for r in dedup.minhash_signatures(docs).collect()}
    agree = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b]))  # noqa: E731
    assert agree(0, 1) == dedup.N_MINHASH            # identical docs: all hashes equal
    assert agree(0, 2) > agree(0, 3)                 # near dup >> unrelated


def test_lsh_candidate_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (3, 4) not in pairs
    # the non-portable (xxhash64) scale path: same plan, same planted-dup
    # behavior — identical docs always collide, unrelated never
    fast = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(docs, portable=False).collect()
    }
    assert (0, 1) in fast
    assert (0, 3) not in fast and (3, 4) not in fast


def test_portable_switch_consistency(docs, spark):
    """The ONE scale switch (hashing.py): every hashing operator accepts
    portable=False and produces the same SHAPE of answer — same rows
    for content-identity ops (identical inputs hash identically under
    any hash), same schema everywhere — while only hash VALUES differ.
    Defaults stay portable=True so the DuckDB oracles are untouched."""
    from deltoid_spark.functions import text as textfns

    # fingerprints: identical docs share fp under both hashes; fp values differ
    for portable in (True, False):
        fps = {r["doc_id"]: r["fp"] for r in
               textfns.fingerprints(docs, portable=portable).collect()}
        assert fps[0] == fps[1]          # planted exact dup
        assert fps[0] != fps[3]
    # jaccard_verify: exact intersection counts are hash-invariant
    # (both sides hash the same grams), so every pair candidate under
    # BOTH hash families gets the identical exact jaccard; the
    # candidate sets themselves may differ on borderline pairs (minhash
    # banding is hash-family-dependent by design)
    a = {(r["doc_a"], r["doc_b"]): r["jaccard_x1000"]
         for r in dedup.jaccard_verify(docs).collect()}
    b = {(r["doc_a"], r["doc_b"]): r["jaccard_x1000"]
         for r in dedup.jaccard_verify(docs, portable=False).collect()}
    assert (0, 1) in a and (0, 1) in b
    for pair in set(a) & set(b):
        assert a[pair] == b[pair], pair
    # strip_boilerplate_lines: line-identity is hash-invariant
    rows = [(i, "shared header\nbody %d" % i) for i in range(5)]
    d2 = spark.createDataFrame(rows, "doc_id long, text string")
    pa_ = {r["doc_id"]: r["n_kept"] for r in
           dedup.strip_boilerplate_lines(d2, max_df=2).collect()}
    pb_ = {r["doc_id"]: r["n_kept"] for r in
           dedup.strip_boilerplate_lines(d2, max_df=2, portable=False).collect()}
    assert pa_ == pb_ == {i: 1 for i in range(5)}
    # lm_coverage: n_tri is hash-invariant; coverage stats are computed
    # over the same trigram multiset so they agree too
    ca = {r["doc_id"]: tuple(r) for r in textfns.lm_coverage(docs).collect()}
    cb = {r["doc_id"]: tuple(r) for r in
          textfns.lm_coverage(docs, portable=False).collect()}
    assert ca == cb
    # contamination / duplicate_text_mass run clean under the fast hash
    assert dedup.duplicate_text_mass(docs, portable=False).count() == docs.count()


def test_simhash_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(0, 1) == 0
    assert ham(0, 2) < ham(0, 4)
    # deterministic: matches the pure-python reference implementation
    assert sh[0] == dedup._simhash64("the quick brown fox jumps over the lazy dog again and again")


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]], i % 3) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    res = [(r["vec_id"], r["cos_sim"]) for r in similarity.brute_force_topk(emb, 1, k=5).collect()]

    q = vecs[1].astype(np.float64)
    sims = vecs.astype(np.float64) @ q / (np.linalg.norm(vecs.astype(np.float64), axis=1) * np.linalg.norm(q))
    order = [i for i in np.argsort(-np.round(sims, 4), kind="stable") if i != 1][:5]
    assert [v for v, _ in res] == [int(i) for i in order]
    for v, c in res:
        assert abs(c - round(float(sims[v]), 4)) < 1e-9


def test_lsh_topk_subset_of_bucket(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(80, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    res = similarity.lsh_topk(emb, 3, k=5, n_planes=3).collect()
    # candidates all share the query's bucket -> fewer or equal to k, sane sims
    assert 0 < len(res) <= 5
    assert all(-1.0001 <= r["cos_sim"] <= 1.0001 for r in res)


def test_banded_near_dup_recall_on_planted_dups(spark):
    """Recall check for the banded sign-LSH (q27's operator), the analog
    of q20's recall test: plant jittered near-copies (cos >= ~0.99) in a
    background of random vectors and require the banded candidate
    filter to recover >= 90% of the true high-cosine pairs while
    scanning far fewer than all pairs."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(120, 32)).astype(np.float64)
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(120)]
    true_pairs = set()
    for j in range(30):  # 30 planted near-dups of the first 30 vectors
        dup = base[j] + 0.02 * rng.normal(size=32)
        rows.append((120 + j, [float(x) for x in dup], 0))
        true_pairs.add((j, 120 + j))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    bf = similarity.brute_force_topk  # noqa: F841  (exactness anchored elsewhere)
    got = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_near_dup_pairs(emb, threshold_x10000=9500).collect()
    }
    recovered = got & true_pairs
    assert len(recovered) / len(true_pairs) >= 0.9, sorted(true_pairs - got)
    # never all-pairs: the candidate set the join scanned is a small
    # fraction of the 150*149/2 possible pairs
    n_cand = (
        similarity.banded_hyperplane_buckets(emb)
        .groupBy("band", "bucket")
        .count()
        .selectExpr("sum(count * (count - 1) / 2) AS c")
        .first()["c"]
    )
    assert n_cand < 150 * 149 / 2 * 0.25


def test_near_dup_bucket_cap_guards_mega_buckets(spark):
    """A degenerate corpus (all-identical vectors) lands in one bucket
    per band; the cap excludes those mega-buckets instead of exploding
    into the O(N^2) self-join."""
    rows = [(i, [1.0] * 8 + [0.0] * 8, 0) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    capped = similarity.cosine_near_dup_pairs(emb, bucket_cap=10).collect()
    assert capped == []
    uncapped = similarity.cosine_near_dup_pairs(emb, bucket_cap=None).collect()
    assert len(uncapped) == 40 * 39 / 2


def test_kmeans_centroids_match_numpy_mirror(spark):
    """The deterministic Lloyd's trainer must reproduce a pure-numpy
    mirror of the same spec exactly (cosine argmax with (cos desc, cid
    asc) tie-break; integer scaled-sum / floor-div updates) — the same
    bit-exactness contract the q42 DuckDB oracle relies on."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.kmeans_centroids(emb, n_lists=4, iters=2)

    rows = emb.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = V[:4].copy()
    for _ in range(2):
        cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        cos = vn @ cn.T
        assign = np.argmax(np.round(cos, 12), axis=1)  # ties: lowest cid (argmax first)
        newC = []
        for cid in range(4):
            sel = V[assign == cid]
            if len(sel):
                s = np.round(sel * 1_000_000).astype(np.int64).sum(axis=0)
                newC.append(np.floor_divide(s, len(sel)) / 1_000_000)
            else:
                newC.append(C[cid])
        C = np.array(newC)
    got = np.array([cv for _cid, cv in cents])
    assert np.allclose(got, C, atol=2e-6), np.abs(got - C).max()

    # determinism: a second run returns the identical centroids
    again = similarity.kmeans_centroids(emb, n_lists=4, iters=2)
    assert cents == again


def test_ivf_trained_probe_quality(spark):
    """Trained IVF with full probing degenerates to the exact scan, and
    the partial probe keeps a real share of the true top-k (the q29
    property, now over trained centroids)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = similarity.brute_force_topk(emb, query_vec_id=1, k=10).collect()
    full = similarity.ivf_topk_trained(emb, 1, k=10, n_lists=4, nprobe=4, iters=1).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in bf]
    probed = similarity.ivf_topk_trained(emb, 1, k=10, n_lists=8, nprobe=2, iters=2).collect()
    hits = {r["vec_id"] for r in probed} & {r["vec_id"] for r in bf}
    assert len(hits) >= 5, sorted(hits)


def test_strip_boilerplate_lines_exact(spark):
    """Planted boilerplate (shared header/footer across >max_df docs)
    is stripped; unique bodies survive in original order; a doc of pure
    boilerplate collapses to the empty text."""
    import hashlib

    header, footer = "=== SITE NAV ===", "(c) example corp"
    rows = [
        (i, f"{header}\nbody {i} first\nbody {i} second\n{footer}") for i in range(5)
    ]
    rows.append((5, f"{header}\n{footer}"))  # pure boilerplate
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup.strip_boilerplate_lines(docs, max_df=2).collect()}
    for i in range(5):
        expect = f"body {i} first\nbody {i} second"
        assert got[i]["n_lines"] == 4 and got[i]["n_kept"] == 2
        assert got[i]["cleaned_md5"] == hashlib.md5(expect.encode()).hexdigest(), i
    assert got[5]["n_kept"] == 0
    assert got[5]["cleaned_md5"] == hashlib.md5(b"").hexdigest()
    # below the threshold nothing is stripped
    few = spark.createDataFrame(rows[:2], "doc_id long, text string")
    kept = dedup.strip_boilerplate_lines(few, max_df=2).collect()
    assert all(r["n_kept"] == r["n_lines"] for r in kept)


def test_strip_boilerplate_heavy_hitters_never_forced_broadcast(spark):
    """The heavy-hitter line set is unbounded on a web corpus, so the
    anti join must survive with broadcasts disabled outright: same
    answers, and the planned anti join is a shuffle join, not a
    BroadcastHashJoin (the plan the driver would OOM on at 100 TB).
    With default confs AQE may still size-gate a genuinely small set
    into a broadcast at runtime — that conversion is the documented
    fast path, not a dependency."""
    import hashlib

    # every doc shares 40 boilerplate lines -> the bad set is ~40 rows
    # here but df-heavy by construction (df = n_docs for each)
    boiler = "\n".join(f"chrome line {j}" for j in range(40))
    rows = [(i, f"{boiler}\nunique body {i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup.strip_boilerplate_lines(docs, max_df=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti, plan
        assert not any("Broadcast" in ln for ln in anti), anti
        got = {r["doc_id"]: r for r in out.collect()}
        for i in range(30):
            assert got[i]["n_lines"] == 41 and got[i]["n_kept"] == 1
            assert got[i]["cleaned_md5"] == hashlib.md5(
                f"unique body {i}".encode()
            ).hexdigest()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_pii_scrub_masks_planted_pii(spark):
    import hashlib

    from deltoid_spark.functions import text as textfns

    docs = spark.createDataFrame(
        [
            (0, "contact alice.b+test@sub.example.co.uk or 192.168.0.1 now"),
            (1, "no pii here"),
            (2, "two mails a@b.io c@d.org and ips 10.0.0.1 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textfns.pii_scrub(docs).collect()}
    assert (got[0]["n_emails"], got[0]["n_ips"]) == (1, 1)
    assert (got[1]["n_emails"], got[1]["n_ips"]) == (0, 0)
    assert (got[2]["n_emails"], got[2]["n_ips"]) == (2, 2)
    assert got[0]["scrubbed_md5"] == hashlib.md5(
        b"contact <EMAIL> or <IP> now"
    ).hexdigest()
    assert got[2]["scrubbed_md5"] == hashlib.md5(
        b"two mails <EMAIL> <EMAIL> and ips <IP> <IP>"
    ).hexdigest()


def test_lm_coverage_flags_out_of_domain(spark):
    """Docs made of reference-like text score high coverage; a doc of
    characters the reference never saw scores ~0."""
    from deltoid_spark.functions import text as textfns

    rows = [(i, "the quick brown fox jumps over the lazy dog " * 3) for i in range(0, 40, 2)]
    rows.append((1, "the quick brown fox jumps over the lazy"))
    rows.append((3, "@@@@####$$$$%%%%^^^^&&&&****(((()))){{{{}}}}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textfns.lm_coverage(docs).collect()}
    assert got[1]["seen_permille"] > 900      # in-domain text: near-full coverage
    assert got[3]["seen_permille"] < 100      # alien alphabet: near-zero
    assert got[1]["avg_ref_count"] > got[3]["avg_ref_count"]
    assert all(r["n_tri"] > 0 for r in got.values())


def test_lm_coverage_ref_top_k_cap_wide_charset(spark):
    """Wide (unicode) charset fixture where the distinct-trigram count
    exceeds a forced tiny ref_top_k: the reference table must truncate
    to exactly the top-K by (count desc, hash asc) — value-checked
    against a pure-Python replication of the capped scoring, including
    the tie-break (the fixture's reference trigrams all tie at count
    1, so hash order alone decides membership)."""
    import hashlib
    from collections import Counter

    from deltoid_spark.functions import text as textfns

    chars = [chr(0x100 + 7 * i) for i in range(120)]
    rows = []
    for d in range(8):
        txt = "".join(chars[(3 * d + k) % 120] for k in range(60)) * (d % 3 + 1)
        rows.append((d, txt))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def tris(t):
        return [t[i:i + 3] for i in range(len(t) - 2)]

    def h(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    ref_counts = Counter()
    for d, t in rows:
        if d % 10 == 0:
            for tri in tris(t):
                ref_counts[h(tri)] += 1
    K = 5
    assert len(ref_counts) > K  # the cap actually binds
    top = dict(sorted(ref_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:K])

    got = {r["doc_id"]: r for r in textfns.lm_coverage(docs, ref_top_k=K).collect()}
    for d, t in rows:
        gs = [h(x) for x in tris(t)]
        n = len(gs)
        seen = sum(1 for g in gs if g in top)
        refc = sum(top.get(g, 0) for g in gs)
        assert got[d]["n_tri"] == n
        assert got[d]["seen_permille"] == seen * 1000 // n, d
        assert got[d]["avg_ref_count"] == refc // n, d


def test_cap_per_source_salt_independent(spark):
    """Tree-reduction top-k keeps exactly the k lowest doc_ids per
    source for ANY window_target (the scale knob must not change the
    answer, whether it derives zero, one, or several salt levels),
    including sources under the cap."""
    from deltoid_spark.functions.packing import cap_per_source

    rows = [(i, f"s{i % 3}", f"t{i}") for i in range(100)] + [
        (1000, "rare", "x")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    expect = {}
    for d, s, _ in rows:
        expect.setdefault(s, []).append(d)
    expect = {s: set(sorted(v)[:5]) for s, v in expect.items()}
    for target in (7, 16, 40, 65536):  # 7/16 force multi-level plans
        got = {}
        for r in cap_per_source(docs, k=5, window_target=target).collect():
            got.setdefault(r["source"], set()).add(r["doc_id"])
        assert got == expect, target


def test_cap_per_source_mega_domain_bounded(spark):
    """A planted mega-domain (20k rows, window_target=512) must never
    put a data-sized partition through any ranking window: the derived
    level plan salts it into ceil(bound/target) buckets per level and
    the replicated salt expression proves no (source, bucket) group
    exceeds ~target with real margin.  The answer still matches the
    plain top-k."""
    import pyspark.sql.functions as F  # noqa: PLC0415

    from deltoid_spark.functions.packing import cap_per_source

    n, target, k = 20_000, 512, 7
    rows = [(i, "mega" if i % 50 else f"tail{i}", "t") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    got = sorted(
        r["doc_id"]
        for r in cap_per_source(docs, k=k, window_target=target).collect()
        if r["source"] == "mega"
    )
    expect = sorted(d for d, s, _ in rows if s == "mega")[:k]
    assert got == expect

    # replicate level-0's salt expression: the largest (source, bucket)
    # group is ~ bound/salts = target in expectation, never data-sized
    max_n = n - n // 50  # mega rows
    salts = -(-max_n // target)
    biggest = (
        docs.groupBy(
            "source", F.pmod(F.xxhash64(F.col("doc_id"), F.lit(0)), F.lit(salts))
        )
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert biggest <= 4 * target, biggest  # hash-uniform, generous margin

    # level plan really is multi-level here: bound shrinks k*salts per
    # level; assert the derived arithmetic terminates under target
    bound, levels = max_n, 0
    while bound > target:
        s_ = -(-bound // target)
        nb = k * s_
        if nb >= bound:
            break
        bound, levels = nb, levels + 1
    assert levels >= 1 and bound <= target


def test_tfidf_top_terms_ordering(spark):
    """Distinctive terms rank by (tf desc, df asc, term asc): a term
    repeated in one doc but present everywhere loses to a rarer term
    with the same tf."""
    from deltoid_spark.functions import text as textfns

    rows = [
        (0, "common common rare rare zebra"),
        (1, "common filler words here"),
        (2, "common other text body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["rk"], r["term"], r["tf"], r["df"])
        for r in textfns.tfidf_top_terms(docs, k=2).collect()
        if r["doc_id"] == 0
    ]
    # doc 0: 'common' tf=2 df=3, 'rare' tf=2 df=1, 'zebra' tf=1 df=1
    # -> rare (tf2, df1) beats common (tf2, df3); zebra drops at k=2
    assert got == [(1, "rare", 2, 1), (2, "common", 2, 3)], got


def test_media_dhash_perceptual_dedup(spark):
    """Perceptual image dedup: the SAME picture re-encoded through
    three different codecs (BMP exact, PNG exact, lossy JPEG) hashes
    within a few bits, an unrelated picture lands ~32 bits away, and
    the banded pair join surfaces exactly the planted near-dups.
    Undecodable payloads yield null hashes (probe semantics)."""
    from deltoid_spark.functions.jpeg import encode_jpeg

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    smooth = base.astype(np.float64)
    for _ in range(3):
        smooth = (
            np.roll(smooth, 1, 0) + np.roll(smooth, -1, 0)
            + np.roll(smooth, 1, 1) + np.roll(smooth, -1, 1) + smooth
        ) / 5
    img = np.clip(smooth, 0, 255).astype(np.uint8)
    other = np.clip(255 - smooth.transpose(1, 0, 2), 0, 255).astype(np.uint8)

    rows = [
        (0, "image", bytearray(multimodal.encode_bmp(img))),
        (1, "image", bytearray(multimodal.encode_png(img))),
        (2, "image", bytearray(encode_jpeg(img, quality=85))),
        (3, "image", bytearray(multimodal.encode_bmp(other))),
        (4, "junk", bytearray(b"not an image")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    hashed = multimodal.media_dhash(media)
    hs = {r["media_id"]: r["dhash"] for r in hashed.collect()}
    assert hs[4] is None
    assert hs[0] == hs[1]  # exact codecs decode identically
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(hs[0], hs[2]) <= 6      # lossy re-encode: near
    assert ham(hs[0], hs[3]) >= 16     # different picture: far
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.media_near_dup_pairs(hashed, max_hamming=6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs and (1, 2) in pairs
    assert not any(3 in p or 4 in p for p in pairs)


def test_media_near_dup_bands_track_max_hamming(spark):
    """ADVICE r06: with the fixed 4x16-bit layout, a pair whose
    differing bits hit ALL FOUR bands was silently lost for
    max_hamming in 4..7.  Bands now derive from max_hamming
    (pigeonhole: k = max_hamming + 1), so this pair — hamming 4, one
    flipped bit inside each 16-bit quarter — MUST surface when
    max_hamming >= 4."""
    base = 0x0123456789ABCDEF
    # flip one bit in each 16-bit quarter: hamming 4, no intact quarter
    other = base ^ (1 << 3) ^ (1 << 19) ^ (1 << 35) ^ (1 << 51)
    hashed = spark.createDataFrame(
        [(0, base), (1, other)], "media_id long, dhash long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.media_near_dup_pairs(hashed, max_hamming=4).collect()
    }
    assert got == {(0, 1): 4}
    # the default stays the documented 4x16 layout and still excludes it
    assert multimodal.media_near_dup_pairs(hashed).count() == 0


def test_media_near_dup_max_hamming_zero(spark):
    """max_hamming=0 is one 64-bit band (its all-ones mask must fit a
    long): exactly the equal-dhash pairs come back, negative hashes
    included."""
    rows = [(0, -5), (1, -5), (2, -4), (3, 0x0123456789ABCDEF),
            (4, 0x0123456789ABCDEF), (5, 0x0123456789ABCDEF), (6, 7)]
    hashed = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.media_near_dup_pairs(hashed, max_hamming=0).collect()
    }
    assert got == {(0, 1): 0, (3, 4): 0, (3, 5): 0, (4, 5): 0}


def test_media_near_dup_mega_bucket_guard(spark):
    """A planted mega-bucket — 1000 identical flat images (the
    all-equal dhash every boilerplate corpus produces) — must NOT go
    quadratic: with the default bucket_cap the over-full (band, v)
    buckets are excluded via broadcast anti-join, so candidates stay
    bounded (here: zero pairs from the flat mass, exactly the planted
    near-dup pair from the structured images).  bucket_cap=None shows
    the counterfactual blowup the guard prevents."""
    flat_hash = 0  # all-equal rows/cols -> every comparison bit 0
    rows = [(i, flat_hash) for i in range(1000)]
    # two structured near-dups (1 bit apart) + one far hash
    rows += [(2000, 0x123456789ABCDEF0), (2001, 0x123456789ABCDEF1),
             (2002, -0x7654321089ABCDF0)]
    hashed = spark.createDataFrame(rows, "media_id long, dhash long")

    got = multimodal.media_near_dup_pairs(hashed, bucket_cap=100).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in got}
    assert pairs == {(2000, 2001): 1}  # flat mass excluded, planted pair kept

    # counterfactual: unguarded, the flat bucket alone is ~500k pairs
    import pyspark.sql.functions as F  # noqa: PLC0415

    unguarded = multimodal.media_near_dup_pairs(
        hashed.filter(F.col("media_id") < 40), bucket_cap=None
    ).count()
    assert unguarded == 40 * 39 // 2


def test_dhash_tiny_image_null(spark):
    """Images narrower than the 9x8 comparison grid have empty
    downscale cells (NaN means -> garbage bits); the kernel returns
    None and media_dhash surfaces a null hash instead."""
    assert multimodal.dhash64(np.full((8, 8, 3), 7, dtype=np.uint8)) is None
    assert multimodal.dhash64(np.full((7, 9), 7, dtype=np.uint8)) is None
    assert multimodal.dhash64(np.full((8, 9), 7, dtype=np.uint8)) is not None
    tiny = multimodal.encode_bmp(np.full((4, 4, 3), 9, dtype=np.uint8))
    media = spark.createDataFrame(
        [(0, "image", bytearray(tiny))], "media_id long, kind string, payload binary"
    )
    got = multimodal.media_dhash(media).collect()
    assert len(got) == 1 and got[0]["dhash"] is None


def test_media_probe_parsers():
    """MP4 box-tree and MP3 frame-stream probes: real struct walking,
    closed-form sizes, corrupt-input rejection (no Spark needed)."""
    p = multimodal.encode_mp4_stub(352, 288, 2250)
    assert len(p) == 248  # fixed box layout
    assert multimodal.probe_mp4(p) == {
        "duration_ms": 2250, "n_tracks": 1, "width": 352, "height": 288
    }
    for f in (1, 10, 29):
        s = multimodal.encode_mp3_stub(f)
        assert len(s) == 417 * f + f // 2  # spec frame-size formula
        d = multimodal.probe_mp3(s)
        assert (d["n_frames"], d["bitrate_kbps"], d["sample_rate"]) == (f, 128, 44100)
        assert d["duration_ms"] == f * 1152 * 1000 // 44100
    with pytest.raises(ValueError, match="ftyp"):
        multimodal.probe_mp4(b"xxxxyyyy" + b"\x00" * 20)
    with pytest.raises(ValueError, match="truncated"):
        multimodal.probe_mp3(multimodal.encode_mp3_stub(3)[:-5])
    with pytest.raises(ValueError, match="sync"):
        multimodal.probe_mp3(b"\x00\x00\x00\x00")


def test_media_probe_spark_kernel(spark):
    got = {
        r["media_id"]: r
        for r in multimodal.media_probe(
            multimodal.synthesize_probe_media(spark, n=8)
        ).collect()
    }
    assert got[0]["container"] == "mp4" and got[0]["meta_a"] == 320
    assert got[1]["container"] == "mp3" and got[1]["n_units"] == 11
    assert all(got[i]["n_bytes"] > 0 for i in range(8))


def test_media_probe_demotes_malformed_payloads(spark):
    """Route-and-filter contract: a payload that sniffs like MP3/MP4
    but fails its parser yields an 'unknown' row instead of killing the
    task; a JPEG payload (also 0xFF-leading) routes to its own branch,
    never into the MP3 frame parser."""
    from deltoid_spark.functions.jpeg import encode_jpeg

    jpeg = encode_jpeg(np.full((16, 16), 128, dtype=np.uint8))
    rows = [
        (0, "video", bytearray(b"\x00\x00\x00\x20ftypisom")),  # box size > payload
        (1, "audio", bytearray(b"\xff\xfb" + b"\x00" * 8)),            # bad mp3 frame
        (2, "image", bytearray(jpeg)),                                  # real jpeg (0xFF D8)
        (3, "other", bytearray(b"plain bytes")),
    ]
    got = {
        r["media_id"]: r
        for r in multimodal.media_probe(
            spark.createDataFrame(rows, "media_id long, kind string, payload binary")
        ).collect()
    }
    assert got[0]["container"] == "unknown"
    assert got[1]["container"] == "unknown"
    assert got[2]["container"] == "jpeg" and got[2]["n_bytes"] == len(jpeg)
    assert got[3]["container"] == "unknown"


def test_media_features_real_decode(spark):
    media = multimodal.synthesize_media(spark, n=12)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    src = {r["media_id"]: r for r in media.collect()}
    assert len(feats) == 12
    for mid, r in feats.items():
        v = np.array(r["feature"], dtype=np.float64)
        assert len(v) == 8
        if r["kind"] == "image":
            # real decode: feature[0:2] = actual BMP width/height
            assert (int(v[0]), int(v[1])) == (src[mid]["width"], src[mid]["height"])
            assert 0 <= v[2] <= 255 and v[7] <= 255
        elif r["kind"] == "audio":
            assert int(v[1]) == multimodal.WAV_RATE
            assert 0.0 < v[2] < 1.0  # RMS of the sine+noise mix
    # deterministic across runs
    again = multimodal.extract_features(multimodal.synthesize_media(spark, n=12)).collect()
    assert [feats[r["media_id"]]["feature"] for r in again] == [r["feature"] for r in again]


def test_bmp_wav_mjpb_roundtrip():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)  # odd width: row padding
    assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(px)), px)
    samples = (rng.standard_normal(5000) * 8000).astype(np.int16)
    dec, rate = multimodal.decode_wav(multimodal.encode_wav(samples, 8000))
    assert rate == 8000 and np.array_equal(dec, samples)
    frames = [rng.integers(0, 256, (6, 9, 3), dtype=np.uint8) for _ in range(3)]
    back = multimodal.decode_mjpb(multimodal.encode_mjpb(frames))
    assert len(back) == 3 and all(np.array_equal(a, b) for a, b in zip(frames, back))


def test_video_frame_decode(spark):
    media = multimodal.synthesize_media(spark, n=9)
    rows = multimodal.decode_frames(media).collect()
    vids = {r["media_id"]: r for r in media.collect() if r["kind"] == "video"}
    assert rows and {r["media_id"] for r in rows} == set(vids)
    for r in rows:
        v = vids[r["media_id"]]
        feat = r["feature"]
        assert (int(feat[0]), int(feat[1])) == (v["width"], v["height"])


def test_frame_sample_plan(spark):
    media = multimodal.synthesize_media(spark, n=9)
    plan = multimodal.frame_sample_plan(media, every_ms=500).collect()
    vids = [r for r in media.collect() if r["kind"] == "video"]
    expected = sum(r["duration_ms"] // 500 + 1 for r in vids)
    assert len(plan) == expected


def test_simhash_empty_string_is_zero():
    # regression: the int64 wrap used to flip the MSB unconditionally
    assert dedup._simhash64("") == 0
    h = dedup._simhash64("token")
    assert -(2**63) <= h < 2**63


def test_run_length_profile_stitches_boundaries(spark):
    from deltoid_spark.functions import runs

    # keys 0..19, values form runs crossing every bucket boundary at
    # bucket_size=4: AAAA ABBB BBCC CCCC CDDD -> runs A5 B5 C7 D3
    vals = "AAAAABBBBBCCCCCCCDDD"
    df = spark.createDataFrame(
        [(i, 0, v) for i, v in enumerate(vals)], "k long, s long, v string"
    )
    expect = {"A": (1, 5, 5), "B": (1, 5, 5), "C": (1, 7, 7), "D": (1, 3, 3)}
    for bucket in (4, 1000):
        got = {
            r["value"]: (r["n_runs"], r["total_rows"], r["max_run"])
            for r in runs.run_length_profile(df, "k", "s", "v", bucket).collect()
        }
        assert got == expect, (bucket, got)

    # repeated value in non-adjacent runs must not merge: A B A B
    df2 = spark.createDataFrame(
        [(0, 0, "A"), (1, 0, "B"), (2, 0, "A"), (3, 0, "B")], "k long, s long, v string"
    )
    got2 = {
        r["value"]: (r["n_runs"], r["total_rows"], r["max_run"])
        for r in runs.run_length_profile(df2, "k", "s", "v", 2).collect()
    }
    assert got2 == {"A": (2, 2, 1), "B": (2, 2, 1)}


def test_lsh_multi_probe_improves_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, 1, k=10).collect()}

    def recall(multi):
        got = {r["vec_id"] for r in
               similarity.lsh_topk(emb, 1, k=10, multi_probe=multi).collect()}
        return len(got & exact) / len(exact)

    single, multi = recall(False), recall(True)
    assert multi >= single
    assert multi >= 0.3  # hamming-1 probing finds a real share of true neighbors


def test_ivf_full_probe_equals_brute_force(spark):
    """With nprobe == n_lists (probe everything) IVF degenerates to the
    exact scan, so it must reproduce brute-force top-k exactly; with
    nprobe < n_lists it returns a subset-quality result from a fraction
    of the table (the scale path)."""
    from deltoid_spark.functions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = similarity.brute_force_topk(emb, query_vec_id=1, k=10).collect()
    full = similarity.ivf_topk(emb, query_vec_id=1, k=10, n_lists=8, nprobe=8).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in bf]

    probed = similarity.ivf_topk(emb, query_vec_id=1, k=10, n_lists=8, nprobe=2).collect()
    assert len(probed) == 10
    # recall sanity: the probed search keeps most of the true top-k
    hits = {r["vec_id"] for r in probed} & {r["vec_id"] for r in bf}
    assert len(hits) >= 5, sorted(hits)


# ------------------------- temporal operators ------------------------------

from datetime import datetime as _dt  # noqa: E402

from deltoid_spark.functions import dedup as _dedup, temporal  # noqa: E402


@pytest.fixture(scope="module")
def timeline(spark):
    """One user with interleaved probe/ref rows covering before-any-ref,
    exact-tie, and between-refs cases; a second user with refs only."""
    rows = [
        (1, 10, "probe", _dt(2024, 1, 1, 0, 0, 5)),
        (2, 10, "ref",   _dt(2024, 1, 1, 0, 0, 10)),
        (3, 10, "probe", _dt(2024, 1, 1, 0, 0, 10)),  # tie with ref 2
        (4, 10, "probe", _dt(2024, 1, 1, 0, 0, 30)),
        (5, 10, "ref",   _dt(2024, 1, 1, 0, 1, 0)),
        (6, 10, "probe", _dt(2024, 1, 1, 0, 2, 0)),
        (7, 20, "ref",   _dt(2024, 1, 1, 0, 0, 1)),
    ]
    return spark.createDataFrame(rows, "id long, user_id long, kind string, ts timestamp_ntz")


def _split(timeline):
    import pyspark.sql.functions as F
    probes = timeline.filter(F.col("kind") == "probe").select(
        F.col("id").alias("pid"), "user_id", "ts")
    refs = timeline.filter(F.col("kind") == "ref").select(
        "user_id", F.col("id").alias("rid"), "ts")
    return probes, refs


def test_asof_backward_inclusive(timeline):
    probes, refs = _split(timeline)
    out = {r["pid"]: r["r_rid"] for r in
           temporal.asof_join(probes, refs, on="user_id").collect()}
    assert out == {1: None, 3: 2, 4: 2, 6: 5}


def test_asof_backward_strict_excludes_tie(timeline):
    probes, refs = _split(timeline)
    out = {r["pid"]: r["r_rid"] for r in
           temporal.asof_join(probes, refs, on="user_id", strict=True).collect()}
    assert out == {1: None, 3: None, 4: 2, 6: 5}


def test_asof_forward(timeline):
    probes, refs = _split(timeline)
    out = {r["pid"]: r["r_rid"] for r in
           temporal.asof_join(probes, refs, on="user_id", direction="forward").collect()}
    assert out == {1: 2, 3: 2, 4: 5, 6: None}


def test_asof_tolerance_nulls_far_matches(timeline):
    probes, refs = _split(timeline)
    out = {r["pid"]: r["r_rid"] for r in
           temporal.asof_join(probes, refs, on="user_id",
                              tolerance_us=30_000_000).collect()}
    # probe 4 is 20s after ref 2 (kept); probe 6 is 60s after ref 5 (dropped)
    assert out == {1: None, 3: 2, 4: 2, 6: None}


def test_sessionize_splits_on_gap(spark):
    rows = [
        (10, _dt(2024, 1, 1, 0, 0, 0)),
        (10, _dt(2024, 1, 1, 0, 30, 0)),
        (10, _dt(2024, 1, 1, 9, 0, 0)),   # > 6h gap -> new session
        (20, _dt(2024, 1, 2, 0, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    stats = {(r["user_id"], r["session_idx"]): (r["n_events"], r["dur_us"])
             for r in temporal.session_stats(df).collect()}
    assert stats == {(10, 1): (2, 1800 * 1_000_000), (10, 2): (1, 0), (20, 1): (1, 0)}


def test_dup_clusters_merge_transitively(docs):
    # docs 0/1 exact dups and 0/2 near dups -> one cluster {0,1,2}
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in _dedup.dup_clusters(docs).collect()}
    assert out.get(0) == (0, 3) and out.get(1) == (0, 3) and out.get(2) == (0, 3)
    assert 3 not in out and 4 not in out


# ------------------------------ PNG codec ----------------------------------

import struct as _struct  # noqa: E402
import zlib as _zlib  # noqa: E402


def test_png_roundtrip_all_encode_filters():
    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, (19, 31, 3), dtype=np.uint8)
    for ft in (0, 1, 2):
        back = multimodal.decode_png(multimodal.encode_png(px, filter_type=ft))
        assert back.shape == px.shape and (back == px).all()


def test_png_sub_filter_compresses_gradients():
    grad = (
        (np.arange(31)[None, :, None] * 3 + np.arange(19)[:, None, None] * 7) % 256
    ).astype(np.uint8).repeat(3, axis=2)
    sub = len(multimodal.encode_png(grad, filter_type=1))
    none = len(multimodal.encode_png(grad, filter_type=0))
    assert sub < none / 2


def _hand_png(raw: np.ndarray, color: int, channels: int, ft: int) -> bytes:
    """Build a PNG whose every scanline uses filter ft (the reference
    per-pixel filter math, independent of the module's vectorized path)."""
    h, stride = raw.shape
    w = stride // channels
    body = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = raw[y].astype(np.int32)
        body.append(ft)
        for x in range(stride):
            a = int(cur[x - channels]) if x >= channels else 0
            b = int(prev[x])
            c = int(prev[x - channels]) if x >= channels else 0
            pred = {
                0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: multimodal._paeth(a, b, c)
            }[ft]
            body.append((int(cur[x]) - pred) & 0xFF)
        prev = cur
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        multimodal.PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", _zlib.compress(bytes(body)))
        + multimodal._png_chunk(b"IEND", b"")
    )


def test_png_decode_average_and_paeth_filters():
    rng = np.random.default_rng(7)
    raw = rng.integers(0, 256, (5, 12), dtype=np.uint8)  # 4x5 RGB
    for ft in (3, 4):
        back = multimodal.decode_png(_hand_png(raw, color=2, channels=3, ft=ft))
        assert (back.reshape(5, 12) == raw).all()


def test_png_decode_gray_and_rgba():
    rng = np.random.default_rng(9)
    for color, ch in ((0, 1), (6, 4)):
        raw = rng.integers(0, 256, (5, 4 * ch), dtype=np.uint8)
        back = multimodal.decode_png(_hand_png(raw, color=color, channels=ch, ft=2))
        assert back.shape == (5, 4, ch) and (back.reshape(5, 4 * ch) == raw).all()


def test_png_crc_corruption_raises():
    p = bytearray(multimodal.encode_png(np.zeros((4, 4, 3), dtype=np.uint8)))
    p[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|not a PNG"):
        multimodal.decode_png(bytes(p))


def test_png_features_via_decode_features():
    px = np.full((6, 8, 3), 200, dtype=np.uint8)
    f = multimodal.decode_features(multimodal.encode_png(px), "image")
    assert f[0] == 8 and f[1] == 6 and abs(f[2] - 200.0) < 1e-6


# ---------------------------- sequence packing -----------------------------

from deltoid_spark.functions import packing  # noqa: E402
import pyspark.sql.functions as _F  # noqa: E402


def test_pack_documents_matches_serial_prefix_sum(spark):
    rng = np.random.default_rng(3)
    toks = rng.integers(1, 900, 200).tolist()
    df = spark.createDataFrame([(i, int(t)) for i, t in enumerate(toks)],
                               "doc_id long, n_tok long")
    out = {r["doc_id"]: (r["start_off"], r["pack_id"]) for r in
           packing.pack_documents(df, budget=1000, shard_size=16,
                                  token_count=_F.col("n_tok")).collect()}
    off = 0
    for i, t in enumerate(toks):
        assert out[i] == (off, off // 1000), i
        off += t


def test_pack_documents_shard_size_invariant(spark):
    rng = np.random.default_rng(4)
    df = spark.createDataFrame(
        [(i, int(t)) for i, t in enumerate(rng.integers(1, 500, 150))],
        "doc_id long, n_tok long")
    a = sorted(map(tuple, packing.pack_documents(
        df, 2048, shard_size=7, token_count=_F.col("n_tok")).collect()))
    b = sorted(map(tuple, packing.pack_documents(
        df, 2048, shard_size=64, token_count=_F.col("n_tok")).collect()))
    assert a == b


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in packing.hash_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in
         packing.hash_split(df.repartition(13)).collect()}
    assert a == b  # content-stable: row order / partitioning irrelevant
    n = len(a)
    frac = sum(1 for v in a.values() if v == "train") / n
    assert 0.96 < frac < 0.995
    with pytest.raises(ValueError, match="sum to 1000"):
        packing.hash_split(df, weights={"train": 1})


def test_repetition_metrics_hand_values(spark):
    from deltoid_spark.functions import text as textf
    rows = [(0, "a a a a"), (1, "a b c d"), (2, "x"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_words"], r["distinct_permille"],
                         r["top_word_permille"], r["top_bigram_permille"])
           for r in textf.repetition_metrics(df).collect()}
    assert out[0] == (4, 250, 1000, 1000)   # "a a" bigram dominates
    assert out[1] == (4, 1000, 250, 333)    # all distinct
    assert out[2] == (1, 1000, 1000, 0)     # no bigrams
    assert 3 not in out                     # zero-token docs drop out


def test_contamination_flags_overlap(docs):
    # bench = doc 1 (exact dup of doc 0); doc 0 fully overlaps, doc 2
    # (near dup) partially, docs 3/4 not at all
    bench = docs.filter("doc_id = 1")
    corpus = docs.filter("doc_id <> 1")
    out = {r["doc_id"]: (r["n_overlap"], r["contaminated"])
           for r in dedup.contamination(corpus, bench).collect()}
    assert out[0][1] == 1 and out[0][0] > 0
    assert out[2][1] == 1 and 0 < out[2][0] < out[0][0]
    assert out[3] == (0, 0) and out[4] == (0, 0)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-check of the union-tag-window as-of join
    against pandas.merge_asof (an independent reference) over every
    direction/strict/tolerance combination."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n_l = 120
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n_l).astype("int64"),
            "ts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
            "lid": np.arange(n_l, dtype="int64"),
        }
    )
    rights = []
    for k in range(5):
        ts = rng.choice(10**6, size=16, replace=False)  # unique per key
        rights.append(pd.DataFrame({"k": np.full(16, k, dtype="int64"),
                                    "ts": pd.to_datetime(ts, unit="s"),
                                    "rid": (k * 100 + np.arange(16)).astype("int64")}))
    right = pd.concat(rights, ignore_index=True)

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)

    for direction in ("backward", "forward"):
        for strict in (False, True):
            for tol in (None, 3600 * 1_000_000):
                got = {
                    r["lid"]: r["r_rid"]
                    for r in temporal.asof_join(
                        ldf, rdf, on="k", strict=strict,
                        direction=direction, tolerance_us=tol,
                    ).collect()
                }
                ref = pd.merge_asof(
                    left.sort_values("ts"),
                    right.sort_values("ts").rename(columns={"rid": "r_rid"}),
                    on="ts", by="k", direction=direction,
                    allow_exact_matches=not strict,
                    tolerance=None if tol is None else pd.Timedelta(microseconds=tol),
                )
                want = {
                    int(row.lid): (None if pd.isna(row.r_rid) else int(row.r_rid))
                    for row in ref.itertuples()
                }
                assert got == want, (direction, strict, tol)


def test_dedup_select_keeps_longest(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again or so"),
        (2, "the quick brown fox jumps over the lazy cat again and again"),
        (3, "completely unrelated text about columnar codecs and encode paths"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["cluster_id"]: (r["n_docs"], r["keeper"], r["keeper_chars"])
           for r in dedup.dedup_select(df).collect()}
    # docs 0/1/2 cluster; doc 1 is longest -> keeper
    assert out == {0: (3, 1, len(rows[1][1]))}


def test_duplicate_text_mass(docs):
    out = {r["doc_id"]: r["dup_mass_permille"]
           for r in dedup.duplicate_text_mass(docs).collect()}
    assert out[0] == 1000 and out[1] == 1000   # exact dups: every gram shared
    assert 0 < out[2] < 1000                   # near dup: partial overlap
    assert out[3] == 0 and out[4] == 0         # unrelated docs


def test_connected_components_matches_union_find(spark):
    rng = np.random.default_rng(21)
    n, m = 60, 50
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2)) if a != b]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}

    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    touched = {x for e in edges for x in e}
    want = {}
    roots = {}
    for x in sorted(touched):
        r = find(x)
        roots.setdefault(r, x)  # min node id in component
        want[x] = roots[r]
    assert got == want


def test_connected_components_raises_when_not_converged(spark):
    # even with pointer jumping a 600-node path cannot finish in 2 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(600)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2)


def test_connected_components_path_graph_log_rounds(spark):
    # pointer jumping: a 400-node path (diameter 400) converges in
    # O(log n) rounds -- far below the hash-min-only bound
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in dedup.connected_components(pairs, max_iter=14).collect()}
    assert len(out) == 401
    assert all(v == (0, 401) for v in out.values())


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, "en" if i % 2 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = packing.stratified_sample(df, rates={"en": 250}, default_permille=1000)
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in
               packing.stratified_sample(df.repartition(7), rates={"en": 250}).collect())
    assert a == b  # content-stable
    by_lang = {r["lang"]: r["n"] for r in
               kept.groupBy("lang").agg(_F.count("*").alias("n")).collect()}
    assert by_lang["de"] == 2000            # default rate keeps everything
    assert 400 < by_lang["en"] < 600        # ~25% of 2000
    with pytest.raises(ValueError, match="permille"):
        packing.stratified_sample(df, rates={"en": 1001})


def test_list_id_gate_paths_agree_and_plan_flat(spark):
    """IVF list assignment is size-gated: small codebooks compile to
    the literal-argmax expression (oracle-exact), large ones to an
    Arrow-batched matmul over a broadcast centroid matrix.  On a
    well-separated fixture (axis-aligned one-hot centroids, vectors
    near one axis) the two paths assign identically, and the plan size
    stays FLAT in n_lists on the pandas path while the literal plan
    grows linearly — the reason the gate exists."""
    import numpy as np
    import pyspark.sql.functions as F  # noqa: PLC0415

    from deltoid_spark.functions import similarity

    dim, n = 16, 120
    rows = []
    for i in range(n):
        v = [0.01 * ((i + j) % 3) for j in range(dim)]
        v[i % dim] = 1.0  # dominant axis -> unambiguous nearest centroid
        rows.append((i, "d", [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    cents = [(c, [1.0 if j == c % dim else 0.0 for j in range(dim)])
             for c in range(dim)]

    lit = {r["vec_id"]: r["lid"] for r in
           emb.select("vec_id", similarity._list_id_expr(cents).alias("lid")).collect()}
    pnd = {r["vec_id"]: r["lid"] for r in
           emb.select("vec_id", similarity._list_id_pandas(cents)(
               F.col("embedding")).alias("lid")).collect()}
    seq = {r["vec_id"]: r["lid"] for r in
           emb.select("vec_id", similarity._list_id_seq(cents)(
               F.col("embedding")).alias("lid")).collect()}
    assert lit == pnd == seq  # r07: the seq Arrow kernel is the <=64 path
    assert set(lit.values()) == set(range(dim))  # every axis actually hit
    expect = {i: i % dim for i in range(n)}
    assert lit == expect

    def plan_len(cs):
        df = emb.select("vec_id", similarity.list_id_col(cs).alias("lid"))
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    def mk(n_lists):
        rng = np.random.RandomState(7)
        return [(c, [float(x) for x in rng.rand(dim)]) for c in range(n_lists)]

    def lit_plan_len(cs):
        df = emb.select("vec_id", similarity._list_id_expr(cs).alias("lid"))
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    # the literal expression's plan grows linearly in n_lists — the
    # original reason the gate exists...
    assert lit_plan_len(mk(64)) > lit_plan_len(mk(8)) * 2
    # ...while since r07 EVERY list_id_col plan is flat: the <=64 path
    # compiles to the seq Arrow kernel (bit-identical doubles, see
    # _list_id_seq), the larger path to the matmul kernel
    p8, p64, p256, p1024 = (plan_len(mk(k)) for k in (8, 64, 256, 1024))
    assert p64 < p8 * 1.1 and p1024 < p256 * 1.1
    assert p1024 < lit_plan_len(mk(64))
