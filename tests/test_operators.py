"""Direct tests of the composed operators (dedup / similarity / joins /
multimodal) against small in-memory fixtures with hand-checkable truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_randgen_spark.operators import dedup, joins, multimodal, similarity


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The quick  brown fox jumps over the lazy dog!"),  # dup after normalize
        (4, "a completely different document about spark engines"),
        (5, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
        (6, "entirely unrelated text with unique words here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.doc_id: r.group_size for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 3, 4: 1, 5: 1, 6: 1}


def test_shingle_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.shingle_jaccard_pairs(docs, threshold=0.4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and 0.4 <= pairs[(1, 5)] < 1.0
    assert (4, 6) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_dedup_pairs(docs, threshold=0.4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs
    assert all(j >= 0.4 for j in pairs.values())


def test_lsh_candidate_pair_bound_dominates_actual(docs, spark):
    # The r20 broadcast-guard probe must UPPER-bound the distinct
    # candidate-pair count (Σ b·(b−1)/2 per bucket counts each pair
    # once per colliding band), without materializing any pair.
    sh = dedup._hashed_shingles(docs, 3, "text", "doc_id", 0)
    sig = dedup._signatures_from_shingles(sh, 64, 0)
    bound = dedup.lsh_candidate_pair_bound(sig)
    actual = dedup.minhash_lsh_candidates(sig).count()
    assert actual >= 1  # the planted dup pair collides somewhere
    assert bound >= actual
    assert bound <= 16 * actual  # loose by at most bands×
    empty = spark.createDataFrame([], "doc_id long, text string")
    esig = dedup._signatures_from_shingles(
        dedup._hashed_shingles(empty, 3, "text", "doc_id", 0), 64, 0
    )
    assert dedup.lsh_candidate_pair_bound(esig) == 0


def test_simhash_near_pairs(docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert (1, 2) in pairs  # identical docs -> identical fingerprints
    assert (4, 6) not in pairs


def test_simhash_identical_zero_hamming(docs):
    fps = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    assert fps[1] == fps[2]


def test_simhash_pairs_within_exhaustive(spark):
    """Permuted-table candidate generation vs brute-force popcount over
    a synthetic fingerprint table with planted distances 1..8: every
    pair <= 6 must be found (pigeonhole guarantee), none above."""
    import random

    rng = random.Random(42)
    fps = [(i, rng.getrandbits(63)) for i in range(20)]
    # plant perturbed copies of fp[0] at each Hamming distance 1..8
    base = fps[0][1]
    for d in range(1, 9):
        mask = 0
        for k in range(d):  # distinct positions: 7k+1 mod 64 injective
            mask |= 1 << ((7 * k + 1) % 64)
        assert bin(mask).count("1") == d
        fps.append((100 + d, base ^ mask))
    df = spark.createDataFrame(fps, "id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs_within(df, max_hamming=6).collect()
    }
    want = {}
    for i, (ida, sa) in enumerate(fps):
        for idb, sb in fps[i + 1 :]:
            h = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if h <= 6:
                want[(min(ida, idb), max(ida, idb))] = h
    assert got == want
    assert (0, 106) in got and got[(0, 106)] == 6  # radius-6 planted
    assert (0, 107) not in got  # distance 7 excluded


def test_simhash_pairs_within_rejects_large_radius(spark):
    df = spark.createDataFrame([(1, 0)], "id long, simhash long")
    with pytest.raises(ValueError, match="Hamming <= 6"):
        dedup.simhash_pairs_within(df, max_hamming=7)


def _brute_pairs_2word(fps, r):
    want = {}
    m64 = (1 << 64) - 1
    for i, (ida, a0, a1) in enumerate(fps):
        for idb, b0, b1 in fps[i + 1:]:
            h = bin((a0 ^ b0) & m64).count("1") + bin((a1 ^ b1) & m64).count("1")
            if h <= r:
                want[(min(ida, idb), max(ida, idb))] = h
    return want


@pytest.mark.parametrize("block_bits,radius", [(8, 9), (8, 14), (16, 6)])
def test_simhash_pairs_blocked_128bit_exhaustive(spark, block_bits, radius):
    """128-bit blocked candidate generation vs brute-force two-word
    popcount, at both block widths (8-bit blocks: 16 tables, r <= 14;
    16-bit blocks: the 2^32-bucket scale variant, r <= 6), with planted
    distances 1..15 crossing each guarantee boundary."""
    import random

    rng = random.Random(7)
    fps = [(i, rng.getrandbits(63), rng.getrandbits(63)) for i in range(15)]
    b0, b1 = fps[0][1], fps[0][2]
    for d in range(1, 16):
        m0 = m1 = 0
        for k in range(d):  # distinct positions 9k+1 mod 128
            p = (9 * k + 1) % 128
            if p < 64:
                m0 |= 1 << p
            else:
                m1 |= 1 << (p - 64)
        assert bin(m0).count("1") + bin(m1).count("1") == d
        s64 = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
        fps.append((100 + d, s64(b0 ^ m0), s64(b1 ^ m1)))
    df = spark.createDataFrame(fps, "id long, sh0 long, sh1 long")
    got = {
        (r_.id_a, r_.id_b): r_.hamming
        for r_ in dedup.simhash_pairs_blocked(
            df, max_hamming=radius, fp_cols=("sh0", "sh1"), block_bits=block_bits
        ).collect()
    }
    assert got == _brute_pairs_2word(fps, radius)
    assert (0, 100 + radius) in got  # the boundary-distance plant found
    assert (0, 100 + radius + 1) not in got


def test_simhash_pairs_blocked_rejects_out_of_range(spark):
    df = spark.createDataFrame([(1, 0, 0)], "id long, sh0 long, sh1 long")
    with pytest.raises(ValueError, match="Hamming <= 14"):
        dedup.simhash_pairs_blocked(df, 15, ("sh0", "sh1"), 8)
    with pytest.raises(ValueError, match="Hamming <= 6"):
        dedup.simhash_pairs_blocked(df, 7, ("sh0", "sh1"), 16)
    with pytest.raises(ValueError, match="must divide"):
        dedup.simhash_pairs_blocked(df, 3, ("sh0", "sh1"), 24)


def test_simhash_multi_word0_matches_simhash(docs):
    """n_words=1 must reproduce the classic fingerprints bit-for-bit,
    and word 0 of a 2-word fingerprint must equal them too (same seed
    path), so generalizing did not silently re-key existing sketches."""
    classic = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    multi = {r.id: (r.sh0, r.sh1) for r in dedup.simhash_multi(docs, n_words=2).collect()}
    assert {i: m[0] for i, m in multi.items()} == classic
    # the second word must be a DIFFERENT hash family, not a copy
    assert any(m[0] != m[1] for m in multi.values())


def test_simhash_blocked_bucket_load_bounded(spark):
    """Property test for the inverted-index shape: on random 128-bit
    fingerprints the per-(table, value) bucket load stays tiny — no
    hidden quadratic hot bucket in the candidate join (2000 docs x 120
    keys over 16-bit values: expected load ~= 3.7 per non-empty bucket
    pair-key space; a skew bug like keying on one block would blow this
    up by orders of magnitude)."""
    import random

    rng = random.Random(3)
    fps = [(i, rng.getrandbits(63), rng.getrandbits(63)) for i in range(2000)]
    df = spark.createDataFrame(fps, "id long, sh0 long, sh1 long")
    from pyspark.sql import functions as F

    n_blocks, block_bits = 16, 8
    bpw = 64 // block_bits

    def blk(t):
        w = "sh0" if t < bpw else "sh1"
        return F.shiftright(F.col(w), (t % bpw) * block_bits).bitwiseAND(F.lit(0xFF)).cast("long")

    keys = F.array(*[
        F.struct(F.lit(i * n_blocks + j).alias("tbl"), (blk(i) * 256 + blk(j)).alias("val"))
        for i in range(n_blocks) for j in range(i + 1, n_blocks)
    ])
    loads = (
        df.select(F.explode(keys).alias("k"))
        .groupBy("k.tbl", "k.val").count()
        .agg(F.max("count").alias("mx")).collect()
    )
    assert loads[0].mx <= 10  # binomial tail: P(load>10) ~ 0 at mean 2000/65536 per bucket


def test_dup_span_coverage_hand_computed(spark):
    rows = [
        (1, "a b c d e"),    # "a b c d" dup with doc 2 -> covers 4/5
        (2, "a b c d x"),    # same -> 4/5
        (3, "p q r s t u"),  # unique -> 0
        (4, "m m m m m m"),  # self-repeating: all 3 starts dup -> 6/6
        (5, "x y"),          # shorter than k -> 0 spans, 0 coverage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.dup_span_coverage(df, k=4).collect()}
    assert {d: (r.n_tokens, r.n_dup_tokens) for d, r in out.items()} == {
        1: (5, 4),
        2: (5, 4),
        3: (6, 0),
        4: (6, 6),
        5: (2, 0),
    }
    assert out[1].dup_frac == 0.8
    assert out[4].dup_frac == 1.0


def test_dup_span_coverage_overlapping_intervals(spark):
    """Two overlapping dup spans in one doc must union, not double
    count: starts {0, 2} with k=4 over 7 tokens cover [0,6) = 6."""
    rows = [
        (1, "a b c d e f g"),  # spans "a b c d"(0) and "c d e f"(2)
        (2, "a b c d z c d e f z"),  # makes both spans global dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.n_dup_tokens for r in dedup.dup_span_coverage(df, k=4).collect()}
    assert out[1] == 6  # union of [0,4) and [2,6), not 8


def test_exact_substring_spans_hand_computed(spark):
    """L=3 over hand-built docs: cross-doc shared runs become maximal
    spans (start/len exact), within-doc repeats count as duplicates,
    one doc can carry several islands, and unique text emits nothing."""
    rows = [
        (1, "a b c d e x1"),   # shares "a b c d e" with 2 and 7
        (2, "z a b c d e"),    # same run, offset 1
        (3, "m m m m"),        # self-repeat: both "m m m" anchors dup
        (4, "unique tokens only here"),
        (5, "p q r"),          # exact 3-token twin of 6 (and in 7)
        (6, "p q r"),
        (7, "a b c d e Q p q r"),  # two separate islands (Q lowercased)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.span_start, r.span_len)
        for r in dedup.exact_substring_spans(df, min_len=3).collect()
    )
    assert out == [
        (1, 0, 5),
        (2, 1, 5),
        (3, 0, 4),
        (5, 0, 3),
        (6, 0, 3),
        (7, 0, 5),
        (7, 6, 3),
    ]


def test_exact_substring_removal_hand_computed(spark):
    """The cut applied to the spans fixture: duplicated runs vanish
    from every carrier (all-occurrences semantics), unique text passes
    through verbatim, fully-duplicated docs empty out."""
    rows = [
        (1, "a b c d e x1"),
        (2, "z a b c d e"),
        (3, "m m m m"),
        (4, "unique tokens only here"),
        (5, "p q r"),
        (6, "p q r"),
        (7, "a b c d e Q p q r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.exact_substring_removal(df, min_len=3).collect()}
    assert (out[1].n_tokens_before, out[1].n_tokens_after, out[1].clean_text) == (
        6, 1, "x1",
    )
    assert out[2].clean_text == "z"
    assert out[3].clean_text == "" and out[3].n_tokens_after == 0
    assert out[4].clean_text == "unique tokens only here"
    assert out[5].clean_text == "" and out[6].clean_text == ""
    assert out[7].clean_text == "q"  # between the two islands


def test_exact_substring_spans_plan_no_pairs_no_python(spark):
    """The plan must be the anchor-index shape: no pair self-join, no
    cartesian, no Python nodes — and the only exchanges key on the
    gram digest and the doc id (never SinglePartition)."""
    rows = [(i, f"t{i} u{i} v{i} w{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from datafusion_randgen_spark import plans

    out = dedup.exact_substring_spans(df, min_len=3)
    plan = plans.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "SinglePartition" not in plan
    assert plans.python_eval_nodes(out) == 0


def test_quantize_int8_roundtrip_bounds_and_zero_vector(spark):
    """Codes stay in [-127, 127] with the max-|v| element hitting ±127
    exactly, reconstruction error is within scale/2 per element, and
    the all-zero vector quantizes to zero codes with scale 0."""
    from datafusion_randgen_spark.functions import vectors as V

    rows = [
        (1, [1.0, -2.0, 0.5, 2.0]),     # scale = 2/127
        (2, [-3.0, 0.0, 1.5, 0.75]),    # scale = 3/127, min element -127
        (3, [0.0, 0.0, 0.0, 0.0]),      # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in V.quantize_int8(df).collect()}
    assert out[1].codes[3] == 127 and out[1].codes[1] == -127
    assert out[2].codes[0] == -127
    assert out[3].codes == [0, 0, 0, 0] and out[3].sc == 0.0
    for vid, emb in ((1, rows[0][1]), (2, rows[1][1])):
        sc, codes = out[vid].sc, out[vid].codes
        assert all(-127 <= c <= 127 for c in codes)
        assert all(
            abs(v - c * sc) <= sc / 2 + 1e-12 for v, c in zip(emb, codes)
        )
    # dequantize round-trips through the same column expression
    deq = V.quantize_int8(df).select(
        "vec_id", V.dequantize_int8(F.col("codes"), F.col("sc")).alias("r")
    )
    r1 = {r.vec_id: r.r for r in deq.collect()}
    assert all(abs(a - b) <= out[1].sc / 2 + 1e-12 for a, b in zip(r1[1], rows[0][1]))


def test_snapshot_dedup_composition_independence(spark):
    """Processing an id-ordered batch in one run must equal processing
    its two halves sequentially with the state threaded through — the
    same check the foreachBatch upsert uses.  Fingerprints repeat
    within a half, across halves, and against the prior store."""
    state0 = spark.createDataFrame([(100,), (101,)], "fp long")
    rows = [
        (1, 100),   # in prior store -> dropped
        (2, 200),   # new -> kept
        (3, 200),   # same-batch dup of 2 -> dropped (keep-first)
        (4, 300),   # new -> kept (first half)
        (5, 300),   # second-half dup of 4 -> dropped
        (6, 101),   # in prior store -> dropped
        (7, 400),   # new -> kept
    ]
    batch = spark.createDataFrame(rows, "doc_id long, fp long")
    one_shot, final_state = dedup.snapshot_dedup(batch, state0)
    kept_once = sorted(r.doc_id for r in one_shot.collect())
    assert kept_once == [2, 4, 7]

    half1 = batch.filter(F.col("doc_id") <= 4)
    half2 = batch.filter(F.col("doc_id") > 4)
    k1, state1 = dedup.snapshot_dedup(half1, state0)
    state1 = state1.localCheckpoint(eager=True)  # persist-between-runs stand-in
    k2, state2 = dedup.snapshot_dedup(half2, state1)
    kept_seq = sorted(r.doc_id for r in k1.unionByName(k2).collect())
    assert kept_seq == kept_once
    assert sorted(r.fp for r in final_state.collect()) == sorted(
        r.fp for r in state2.collect()
    )


def test_semantic_dedup_hand_computed(spark):
    """Two well-separated 2-D clusters (all natural within-cluster
    cosines < 0.95): the exact copy and the scaled copy (cos = 1) are
    pruned against their lower-id originals; everything else keeps."""
    rows = [
        (1, [10.0, 0.0]),
        (2, [0.0, 10.0]),
        (3, [9.0, 3.0]),
        (4, [3.0, 9.0]),
        (5, [9.0, -5.0]),
        (6, [-5.0, 9.0]),
        (7, [9.0, 3.0]),    # exact copy of 3 -> pruned
        (8, [6.0, 18.0]),   # 2 x vector 4 -> cos 1.0 -> pruned
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster, r.keep)
        for r in dedup.semantic_dedup(df, threshold=0.95, k=2, iterations=3).collect()
    }
    assert {v: keep for v, (_, keep) in out.items()} == {
        1: True, 2: True, 3: True, 4: True, 5: True, 6: True,
        7: False, 8: False,
    }
    # copies land in their original's cluster
    assert out[7][0] == out[3][0]
    assert out[8][0] == out[4][0]
    # the two planted clusters separate
    assert out[1][0] != out[2][0]


def test_semantic_dedup_plan_cluster_local_join(spark):
    """The candidate join must be a hash equi-join on the cluster key —
    never a cartesian/nested-loop pair expansion — and nothing in the
    pruning path may collapse to a single partition."""
    from datafusion_randgen_spark import plans

    rows = [(i, [float(i % 7), float((i * 3) % 11)]) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, threshold=0.999, k=3, iterations=2)
    plan = plans.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "SinglePartition" not in plan
    assert "cluster" in plan


@pytest.fixture()
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.95, 0.05]),  # close to 3
        (5, [-1.0, 0.0, 0.0]),   # opposite of 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vecs):
    out = similarity.brute_force_topk(vecs, vecs.filter("vec_id = 1"), k=2).collect()
    assert [r.neighbor_id for r in out] == [2, 3]
    assert out[0].sim > 0.99


def test_embedding_near_dup(vecs):
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(vecs, 0.9, dim=3).collect()
    }
    assert pairs == {(1, 2), (3, 4)}


def test_embedding_near_dup_exact(vecs):
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs_exact(vecs, 0.9).collect()
    }
    assert pairs == {(1, 2), (3, 4)}


def test_lsh_ann_subset_of_corpus(vecs):
    out = similarity.lsh_ann_topk(vecs, vecs.filter("vec_id = 1"), dim=3, k=2, nbits=4, ntables=6)
    rows = out.collect()
    assert all(r.query_id == 1 and r.neighbor_id != 1 for r in rows)
    # vec 2 is nearly collinear with vec 1 -> same sign pattern in every table
    assert 2 in {r.neighbor_id for r in rows}


def test_asof_join(spark):
    trades = spark.createDataFrame(
        [(1, "A", 10.0), (5, "A", 11.0), (3, "B", 20.0)], "t long, sym string, px double"
    ).select(F.timestamp_seconds("t").alias("ts"), "sym", "px")
    quotes = spark.createDataFrame(
        [(0, "A", 9.5), (4, "A", 10.5), (9, "A", 12.0), (4, "B", 19.5)],
        "t long, sym string, bid double",
    ).select(F.timestamp_seconds("t").alias("ts"), "sym", "bid")
    out = joins.asof_join(
        trades, quotes, on=["sym"], left_time="ts", right_time="ts", right_values=["bid"]
    )
    got = {(r.sym, r.px): r.bid_asof for r in out.collect()}
    assert got == {("A", 10.0): 9.5, ("A", 11.0): 10.5, ("B", 20.0): None}


def test_asof_join_tie_at_equal_ts(spark):
    left = spark.createDataFrame([(5, "A")], "t long, sym string").select(
        F.timestamp_seconds("t").alias("ts"), "sym"
    )
    right = spark.createDataFrame([(5, "A", 1.0)], "t long, sym string, v double").select(
        F.timestamp_seconds("t").alias("ts"), "sym", "v"
    )
    out = joins.asof_join(left, right, ["sym"], "ts", "ts", ["v"]).collect()
    assert out[0].v_asof == 1.0  # right row AT left ts is visible (<=)


def test_range_self_join(spark):
    ev = spark.createDataFrame(
        [(1, 100, 0), (2, 100, 200), (3, 100, 400), (4, 200, 0), (5, 100, 10_000)],
        "event_id long, user_id long, t long",
    ).select("event_id", "user_id", F.timestamp_seconds("t").alias("ts"))
    out = joins.range_self_join(ev, ["user_id"], "ts", max_gap_seconds=300.0, id_col="event_id")
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(1, 2), (2, 3)}  # (1,3) gap=400s > 300; user 200 alone


def test_sessionize(spark):
    ev = spark.createDataFrame(
        [(1, 0), (1, 60), (1, 4000), (2, 0)], "user_id long, t long"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"))
    out = joins.sessionize(ev, ["user_id"], "ts", gap_minutes=30.0).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [1, 2] and per_user[2] == [1]


def test_multimodal_features_roundtrip(spark):
    docs = spark.createDataFrame([(1, "abc"), (2, "zzzz")], "doc_id long, text string")
    media = multimodal.attach_fake_media(docs)
    out = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    assert out[1].byte_len == 3 and out[1].checksum == sum(b"abc")
    assert out[2].checksum == sum(b"zzzz")
    assert out[1].media_type == "audio/wav" and out[2].media_type == "image/png"
    assert out[1].width == 64 + 3 % 640


@pytest.mark.skipif(
    multimodal.HAS_PIL,
    reason="Pillow present: the real decode path is active, not stubbed",
)
def test_multimodal_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"\x89PNG", "image/png")


@pytest.mark.skipif(
    not multimodal.HAS_PIL,
    reason="real media decode needs Pillow (absent here)",
)
def test_multimodal_real_decode_dims(spark):
    """Where Pillow exists, decoder='real' must return the ACTUAL
    container dims (env-gated exactly like the protobuf state API v2
    test — VERDICT r10 task 7)."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [
            (2, bytearray(png), "image/png", len(png)),
            # mixed corpus: codec-less modality and a corrupt image
            # payload must yield NULL dims, not abort the stage
            (3, bytearray(b"not audio"), "audio/wav", 9),
            (4, bytearray(b"\x89PNGbroken"), "image/png", 10),
        ],
        "doc_id long, media binary, media_type string, byte_len long",
    )
    out = {
        r.doc_id: r
        for r in multimodal.extract_features(media, decoder="real").collect()
    }
    assert (out[2].width, out[2].height) == (17, 9)
    assert out[2].checksum == sum(png)
    assert (out[3].width, out[3].height) == (None, None)
    assert (out[4].width, out[4].height) == (None, None)
    assert out[3].checksum == sum(b"not audio")


def test_multimodal_bad_decoder_rejected(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    media = multimodal.attach_fake_media(docs)
    with pytest.raises(ValueError):
        multimodal.extract_features(media, decoder="png")


def test_salted_join_matches_plain_join(spark):
    from datafusion_randgen_spark.operators.joins import salted_join
    from datafusion_randgen_spark.sources.synthetic import synthetic_table

    fact = synthetic_table(
        spark, 20_000,
        {"k": {"kind": "zipf", "n": 50, "s": 1.5},
         "v": {"kind": "int64_uniform", "lo": 1, "hi": 100}},
        seed=13,
    )
    dim = spark.range(1, 51).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    plain = fact.join(dim, "k").agg(
        F.count("*").alias("n"), F.sum(F.col("v") * F.col("w")).alias("s")
    ).collect()[0]
    salted = salted_join(fact, dim, "k", n_salts=4).agg(
        F.count("*").alias("n"), F.sum(F.col("v") * F.col("w")).alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)
    assert plain.n == 20_000


def test_salted_join_left_outer_preserves_unmatched(spark):
    from datafusion_randgen_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], "k int, v string")
    dim = spark.createDataFrame([(1, 10), (2, 20)], "k int, w int")
    out = salted_join(fact, dim, "k", n_salts=3, how="left").orderBy("k").collect()
    assert [(r.k, r.w) for r in out] == [(1, 10), (2, 20), (99, None)]


def test_frame_sample_slices_payload(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz0123456789"), (2, "hi")], "doc_id long, text string"
    )
    media = multimodal.attach_fake_media(docs)
    frames = multimodal.frame_sample(media, every_ms=40).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    payloads = {r.doc_id: bytes(r.media) for r in media.collect()}
    for doc_id, rows in by_doc.items():
        payload = payloads[doc_id]
        assert len(rows) == 1 + len(payload) % 8
        for r in sorted(rows, key=lambda r: r.frame_idx):
            start = (r.frame_idx * 16) % max(len(payload), 1)
            assert bytes(r.frame) == payload[start : start + 16]
            assert r.ts_ms == r.frame_idx * 40
            assert r.frame_len == len(bytes(r.frame))


def test_connected_components_multihop_and_isolated(spark):
    # components: {1,2,3,4} (a 4-chain — needs 3 propagation rounds),
    # {10,11} via an undirected edge given backwards, {99} isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (11, 10)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "node long")
    got = {
        (r.node, r.comp)
        for r in dedup.connected_components(edges, nodes=nodes).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (99, 99)}


def test_cogroup_asof_align_survives_column_pruning(spark):
    """A bare count() makes Catalyst prune the cogroup's input columns
    down to the key — the UDF must keep row cardinality without ts."""
    left = spark.createDataFrame([(1, 10), (1, 20), (2, 5)], "user_id long, v long").select(
        "user_id", F.timestamp_seconds("v").alias("ts")
    )
    right = spark.createDataFrame([(1, 8), (3, 1)], "user_id long, v long").select(
        "user_id", F.timestamp_seconds("v").alias("ts")
    )
    out = joins.cogrouped_asof_align(left, right)
    assert out.count() == len(out.collect()) == 3
    rows = {(r.user_id, r.left_ts.second): r.right_ts for r in out.collect()}
    assert rows[(1, 10)].second == 8 and rows[(1, 20)].second == 8
    assert rows[(2, 5)] is None


def test_observe_metrics_piggyback_on_action(spark):
    """Observation metrics ride the existing pass — pipeline row
    accounting without a second scan."""
    from pyspark.sql import Observation

    obs = Observation("prep_metrics")
    df = (
        spark.range(1000)
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum((F.col("id") % 2 == 0).cast("long")).alias("evens"),
        )
        .filter(F.col("id") % 2 == 0)
    )
    assert df.count() == 500
    assert obs.get == {"rows_in": 1000, "evens": 500}


def test_asof_join_null_field_rows_carried_atomically(spark):
    """Two right rows at the SAME timestamp, one with a NULL field: the
    carried value pair must come from ONE right row (the last-sorting
    one), never a per-column mix of both."""
    from datafusion_randgen_spark.operators.joins import asof_join

    left = spark.createDataFrame([(10, "A")], "t long, sym string").select(
        F.timestamp_seconds("t").alias("ts"), "sym"
    )
    right = spark.createDataFrame(
        [(10, "A", 1.0, 9.0), (10, "A", 2.0, None)],
        "t long, sym string, v1 double, v2 double",
    ).select(F.timestamp_seconds("t").alias("ts"), "sym", "v1", "v2")
    out = asof_join(
        left, right, on=["sym"], left_time="ts", right_time="ts",
        right_values=["v1", "v2"],
    ).collect()[0]
    # (2.0, NULL) sorts after (1.0, 9.0); a per-column carry would
    # produce the impossible (2.0, 9.0)
    assert (out.v1_asof, out.v2_asof) == (2.0, None)


def test_merge_upsert_updates_to_null(spark):
    """MERGE 'source wins where matched' must take the WHOLE source row
    — including fields the source legitimately sets to NULL."""
    from datafusion_randgen_spark.operators.joins import merge_upsert

    target = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, v double")
    source = spark.createDataFrame([(1, None), (3, 9.0)], "k long, v double")
    got = {r.k: r.v for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {1: None, 2: 7.0, 3: 9.0}


def test_brute_force_topk_empty_queries(vecs):
    out = similarity.brute_force_topk(vecs, vecs.filter("vec_id > 100"), k=2)
    assert out.count() == 0


def test_multimodal_null_payload_yields_null_checksum(spark):
    media = spark.createDataFrame(
        [(1, "image/png", 3, bytearray(b"abc")), (2, "image/png", 0, None)],
        "doc_id long, media_type string, byte_len long, media binary",
    )
    out = {r.doc_id: r.checksum for r in multimodal.extract_features(media).collect()}
    assert out[1] == sum(b"abc") and out[2] is None


# -------------------------------------------------------------------------
# timeseries.ewma_fixed_point
# -------------------------------------------------------------------------

def test_ewma_fixed_point_hand_computed(spark):
    from datafusion_randgen_spark.operators import timeseries

    ser = spark.createDataFrame(
        [(1, 1, 100), (1, 2, 200), (1, 3, 0)], "user_id long, t int, x long"
    )
    got = {r.t: r.ew for r in timeseries.ewma_fixed_point(ser).collect()}
    # ew1=100; ew2=(700+600)//10=130; ew3=(910+0)//10=91
    assert got == {1: 100, 2: 130, 3: 91}


def test_ewma_fixed_point_groups_independent_and_order_insensitive(spark):
    from datafusion_randgen_spark.operators import timeseries

    rows = [(2, 2, 50), (1, 1, 10), (2, 1, 100), (1, 2, 90)]
    ser = spark.createDataFrame(rows, "user_id long, t int, x long").repartition(4)
    got = {(r.user_id, r.t): r.ew for r in timeseries.ewma_fixed_point(ser).collect()}
    assert got == {(1, 1): 10, (1, 2): (70 + 270) // 10,
                   (2, 1): 100, (2, 2): (700 + 150) // 10}


def test_canonicalize_url_edge_cases(spark):
    from pyspark.sql import functions as F

    from datafusion_randgen_spark.functions import text as tx

    cases = [
        # (raw, canonical)
        ("HTTPS://WWW.Foo.COM:443/A/b/?utm_source=x", "https://foo.com/A/b"),
        ("https://foo.com/", "https://foo.com/"),          # root slash kept
        ("https://foo.com", "https://foo.com/"),           # empty path -> /
        ("http://foo.com/p?utm_a=1&utm_b=2", "http://foo.com/p"),
        ("http://foo.com/p?utm_a=1&ref=h", "http://foo.com/p?ref=h"),
        ("http://foo.com/p?ref=h&utm_a=1", "http://foo.com/p?ref=h"),
        ("http://foo.com/p#frag", "http://foo.com/p"),
        ("http://foo.com:443/p", "http://foo.com/p"),      # :443 stripped even on http (documented simplification)
        ("https://www.www.foo.com/p", "https://www.foo.com/p"),  # only ONE leading www.
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "u string")
    got = [r.c for r in df.select(tx.canonicalize_url(F.col("u")).alias("c")).collect()]
    assert got == [c for _, c in cases]


def test_url_canonicalize_plan_is_row_local(spark):
    """The canonicalization entry must be pure row-local string ops:
    zero exchanges, zero Python nodes — that's the whole 100 TB story."""
    from datafusion_randgen_spark import plans
    from datafusion_randgen_spark.queries import QUERIES

    df = QUERIES["t_url_canonicalize"](spark, "/root/testdata/sf0.001")
    assert plans.exchange_count(df) == 0
    assert plans.python_eval_nodes(df) == 0


def test_winnow_fingerprints_guarantee_and_locality(spark):
    """The winnowing theorem, hand-checked: docs sharing a run of
    >= w+k-1 tokens must share a fingerprint; docs with < k tokens
    produce none; identical docs produce identical sets."""
    rows = [
        (1, "a b c d e f g h i j k l"),
        (2, "a b c d e f g h i j k l"),              # exact twin of 1
        (3, "x y z a b c d e f g h p q"),            # shares 8-token run with 1
        (4, "totally different words entirely here now"),
        (5, "a b c"),                                # < k tokens: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, k=4, w=5)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.id, set()).add(r.fp)
    assert by_doc[1] == by_doc[2]                    # identical text
    assert by_doc[1] & by_doc[3]                     # >= w+k-1 shared run
    assert not (by_doc[1] & by_doc[4])
    assert 5 not in by_doc                           # no k-gram, no fp
    # density: selected set is a strict subset of the gram count
    assert 0 < len(by_doc[1]) <= 12 - 4 + 1


def test_winnow_fingerprints_plan_row_local(spark):
    from datafusion_randgen_spark import plans

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    out = dedup.winnow_fingerprints(df)
    assert plans.exchange_count(out) == 0            # selection never shuffles
    assert plans.python_eval_nodes(out) == 0


def test_zvalue16_hand_computed_and_sql_mirror(spark):
    """Morton interleave against hand-computed values, and the DuckDB
    SQL mirror must be bit-equal on the full 16-bit corners."""
    import duckdb

    from datafusion_randgen_spark.operators import layout

    rows = [(3, 1), (65535, 0), (0, 65535), (65535, 65535), (0, 0), (1, 1)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = [
        r.z
        for r in df.select(
            layout.zvalue16(F.col("a"), F.col("b")).cast("long").alias("z")
        ).collect()
    ]
    assert got == [7, 1431655765, 2863311530, 4294967295, 0, 3]
    duck = [
        r[0]
        for r in duckdb.sql(
            "SELECT " + layout.ZVALUE16_SQL("a", "b") + " FROM "
            "(VALUES (3, 1), (65535, 0), (0, 65535), (65535, 65535), "
            "(0, 0), (1, 1)) AS t(a, b)"
        ).fetchall()
    ]
    assert duck == got


# --- BPE vocabulary induction (operators/bpe.py) -------------------------

def test_bpe_merge_tie_breaks_on_byte_order(spark):
    """Equal pair counts must pick the (left, right)-smallest pair —
    the tie rule both engines replay (VERDICT r6 task 1)."""
    from datafusion_randgen_spark.operators import bpe

    # 'zq' and 'ab' each appear exactly twice; tie -> ('a','b') first
    docs = spark.createDataFrame(
        [(1, "zq ab"), (2, "zq ab")], "doc_id long, text string"
    )
    merges, _ = bpe.bpe_train(docs, n_merges=2)
    got = [(r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
           for r in merges.orderBy("merge_rank").collect()]
    assert got == [(1, "a", "b", 2), (2, "z", "q", 2)]


def test_bpe_greedy_left_to_right_application(spark):
    """'aaaa' under merge (a, a) -> [aa, aa]: the new symbol is not
    re-consumed as a RIGHT within the same pass."""
    from datafusion_randgen_spark.operators import bpe

    words = spark.createDataFrame(
        [("aaaa", 1)], "w string, cnt long"
    ).withColumn(
        "syms",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
    )
    out = bpe.apply_merge(words, "a", "a").collect()[0]
    assert list(out.syms) == ["aa", "aa"]
    # odd length: trailing singleton survives
    words3 = spark.createDataFrame(
        [("aaa", 1)], "w string, cnt long"
    ).withColumn(
        "syms",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
    )
    out3 = bpe.apply_merge(words3, "a", "a").collect()[0]
    assert list(out3.syms) == ["aa", "a"]


def test_bpe_train_matches_reference_simulation(spark):
    """Full loop vs an independent in-Python BPE trainer on a small
    corpus: identical merge sequence and counts."""
    import collections
    import re

    from datafusion_randgen_spark.operators import bpe

    texts = [
        "the cat sat on the mat",
        "the bat and the cat chat",
        "that hat on the cat is flat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, words = bpe.bpe_train(docs, n_merges=8)
    got = [(r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
           for r in merges.orderBy("merge_rank").collect()]

    wc = collections.Counter()
    for t in texts:
        for w in re.sub(r"[^a-z0-9\s]", "", t.lower()).split():
            wc[w] += 1
    table = {w: list(w) for w in wc}
    exp = []
    for rank in range(1, 9):
        pc = collections.Counter()
        for w, syms in table.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += wc[w]
        if not pc:
            break
        mx = max(pc.values())
        a, b = sorted(k for k, v in pc.items() if v == mx)[0]
        exp.append((rank, a, b, a + b, mx))
        for w, syms in table.items():
            acc = []
            for s in syms:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = a + b
                else:
                    acc.append(s)
            table[w] = acc
    assert got == exp
    # end-state table agrees too
    got_words = {r.w: list(r.syms) for r in words.collect()}
    assert got_words == table


def test_bpe_train_restores_session_conf(spark):
    """r21: the merge loop runs with AQE off and a small shuffle-
    partition count (the pair-group space is bounded by
    (alphabet+n_merges)², see bpe_train); both settings must be
    RESTORED after training — including when the input is pathological
    — so later queries in the session keep their configuration."""
    from datafusion_randgen_spark.operators import bpe

    conf = spark.conf
    before = (
        conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.shuffle.partitions"),
    )
    docs = spark.createDataFrame(
        [(1, "ab ab cd")], "doc_id long, text string"
    )
    merges, _ = bpe.bpe_train(docs, n_merges=3)
    merges.collect()
    after = (
        conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.shuffle.partitions"),
    )
    assert after == before
    # vocabulary exhaustion mid-loop (early break) restores too
    docs1 = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    bpe.bpe_train(docs1, n_merges=5)
    assert (
        conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.shuffle.partitions"),
    ) == before


def test_bpe_apply_merge_rejects_non_alphabet_symbols(spark):
    """apply_merge interpolates symbols into SQL, so it must refuse
    anything outside the [a-z0-9]+ trainer alphabet (ADVICE r7)."""
    from datafusion_randgen_spark.operators import bpe

    words = spark.createDataFrame([("ab", 1)], "w string, cnt long")
    words = words.withColumn(
        "syms",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
    )
    for bad in ("a'b", "a\\", "A", "a b", ""):
        with pytest.raises(ValueError):
            bpe.apply_merge(words, bad, "a")
        with pytest.raises(ValueError):
            bpe.apply_merge(words, "a", bad)


def _duckdb_bpe_stats(con, n):
    """(total_tokens, n_word_types, n_symbols) of the DuckDB replay's
    word table after ``n`` merges (the t_bpe_vocab_stats end state)."""
    from datafusion_randgen_spark.queries import _bpe_replay_ctes

    return con.sql(
        f"""WITH {_bpe_replay_ctes(n)},
        flat AS (SELECT unnest(syms) AS s FROM w{n})
        SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_word_types,
               (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM flat) AS n_symbols
        FROM w{n}"""
    ).fetchone()


def test_bpe_oracle_survives_vocabulary_exhaustion(spark):
    """Corpus exhausts after 1 merge but the oracle replays 5 steps:
    the LEFT-JOIN fallback must hold w{i} at the fixed point instead of
    collapsing the chain to empty (ADVICE r7), matching bpe_train's
    early break on both the merge table and the end-state stats."""
    import duckdb
    import pandas as pd

    from datafusion_randgen_spark.operators import bpe
    from datafusion_randgen_spark.queries import _bpe_merge_oracle

    texts = ["ab ab", "ab"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, words = bpe.bpe_train(docs, n_merges=5)
    got = [(r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
           for r in merges.orderBy("merge_rank").collect()]
    assert got == [(1, "a", "b", "ab", 3)]  # then every word is 1 symbol

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    oracle = [tuple(r) for r in con.sql(_bpe_merge_oracle(5)).fetchall()]
    assert oracle == got
    assert _duckdb_bpe_stats(con, 5) == (3, 1, 1)
    spark_total = words.agg(
        F.sum(F.col("cnt") * F.size("syms"))
    ).collect()[0][0]
    assert spark_total == 3


def test_bpe_train_greedy_overlaps_match_duckdb_replay(spark):
    """The trainer's own greedy application (not apply_merge's, which
    only the encoder uses) on overlapping runs and count ties: 'aaaa'
    and 'aaa' give 5 (a, a) pairs but fold to [aa, aa] and [aa, a],
    and ranks 4-8 all tie at count 1.  Merge table, end-state word
    table and its stats must equal the DuckDB replay."""
    import duckdb
    import pandas as pd

    from datafusion_randgen_spark.operators import bpe
    from datafusion_randgen_spark.queries import _bpe_merge_oracle, _bpe_replay_ctes

    texts = ["aaaa aaa abab baba banana"]
    docs = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    merges, words = bpe.bpe_train(docs, n_merges=8)
    got = [tuple(r) for r in merges.orderBy("merge_rank").collect()]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    assert got == [tuple(r) for r in con.sql(_bpe_merge_oracle(8)).fetchall()]
    assert got[0] == (1, "a", "a", "aa", 5)
    oracle_words = {
        w: (cnt, list(syms))
        for w, cnt, syms in con.sql(
            f"WITH {_bpe_replay_ctes(8)} SELECT w, cnt, syms FROM w8"
        ).fetchall()
    }
    assert {r.w: (r.cnt, list(r.syms)) for r in words.collect()} == oracle_words
    sym = words.select(F.explode("syms").alias("s")).agg(
        F.count_distinct("s")
    )
    stats = words.agg(
        F.sum(F.col("cnt") * F.size("syms")), F.count("*")
    ).crossJoin(sym)
    assert tuple(stats.collect()[0]) == _duckdb_bpe_stats(con, 8)


def test_bpe_encode_hand_computed_word(spark):
    """bpe_encode applies a learned merge LIST in order (VERDICT r8
    task 3): 'abcab' under merges [(a,b), (ab,c)] -> [abc, ab]."""
    from datafusion_randgen_spark.operators import bpe

    words = spark.createDataFrame(
        [("abcab", 1)], "w string, cnt long"
    ).withColumn(
        "syms",
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
    )
    out = bpe.bpe_encode(words, [("a", "b"), ("ab", "c")]).collect()[0]
    assert list(out.syms) == ["abc", "ab"]


def test_bpe_encode_holdout_matches_duckdb_replay(spark):
    """Train on a split, encode held-out text, and check the encoder
    against the shared-fold DuckDB replay (the t_bpe_encode contract
    on a hand-sized corpus)."""
    import duckdb
    import pandas as pd

    from datafusion_randgen_spark.operators import bpe
    from datafusion_randgen_spark.queries import _bpe_encode_oracle

    texts = [
        (0, "the mat and the hat"),       # holdout (doc_id % 5 = 0)
        (1, "the cat sat on the mat"),
        (2, "the bat and the cat chat"),
        (3, "that hat on the cat is flat"),
        (5, "a cat that sat"),            # holdout
        (6, "the flat mat"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges, _ = bpe.bpe_train(
        docs.filter(F.col("doc_id") % 5 != 0), n_merges=6
    )
    mlist = [
        (r.left_sym, r.right_sym)
        for r in merges.orderBy("merge_rank").collect()
    ]
    hold = bpe.word_freq_table(docs.filter(F.col("doc_id") % 5 == 0))
    enc = bpe.bpe_encode(hold, mlist)
    got = [
        (r.symbol, r.occurrences)
        for r in enc.select("cnt", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), "symbol")
        .limit(20)
        .collect()
    ]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": [d for d, _ in texts], "text": [t for _, t in texts]}
        ),
    )
    oracle = [tuple(r) for r in con.sql(_bpe_encode_oracle(6)).fetchall()]
    assert got == oracle
    assert got, "holdout encoding produced no symbols"


@pytest.mark.parametrize("pin_mode", ["localCheckpoint", "persist"])
def test_skew_routed_labels_equal_plain_rep_join(spark, pin_mode):
    """Routing invariance: for corpora with hot keys above, below, and
    straddling the threshold, skew_routed_dedup_labels must produce
    exactly the labels of a plain (unrouted) rep join — the heavy /
    light split is a physical strategy, never a semantic one.  Runs
    under BOTH pin strategies (r11): the materialization pin is a
    fault-tolerance knob, never a semantic one."""
    from datafusion_randgen_spark.pinning import pin_strategy

    with pin_strategy(pin_mode):
        _run_skew_routed_invariance(spark)


def _run_skew_routed_invariance(spark):
    for seed, hot_share, thresh in ((1, 0.5, 10), (2, 0.0, 5), (3, 0.3, 10_000)):
        n = 600
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(
                (F.xxhash64("id", F.lit(seed)) % 100) < int(hot_share * 100),
                F.lit("common text"),
            )
            .otherwise(
                F.concat(
                    F.lit("doc "),
                    (F.xxhash64("id", F.lit(seed + 10)) % 50).cast("string"),
                )
            )
            .alias("text"),
        )
        routed = {
            (r.doc_id, r.keeper, r.group_size)
            for r in dedup.skew_routed_dedup_labels(
                docs, heavy_min_count=thresh
            ).collect()
        }
        keyed = docs.select(
            "doc_id",
            F.sha2(dedup.normalize_text(F.col("text")), 256).alias("k"),
        )
        reps = keyed.groupBy("k").agg(
            F.min("doc_id").alias("keeper"), F.count("*").alias("gs")
        )
        plain = {
            (r.doc_id, r.keeper, r.gs)
            for r in keyed.join(reps, "k").collect()
        }
        assert routed == plain, (seed, hot_share, thresh)


def test_iterative_pins_mode_invariant(spark):
    """bpe_train / connected_components / bfs_distances produce
    identical results under both pin strategies (r11 task 3): persist
    keeps lineage for executor-churn fault tolerance, localCheckpoint
    truncates it — neither may change a single output row."""
    from datafusion_randgen_spark.operators import bpe, graph
    from datafusion_randgen_spark.pinning import pin_strategy

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "wide wider widest"] * 3
        )],
        "doc_id long, text string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (11, 10)], "id_a long, id_b long"
    )
    bfs_edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "src long, dst long"
    )

    emb = spark.createDataFrame(
        [(i, [float((i % 4) * 3 + j) for j in range(4)]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )

    def _n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    results = {}
    persist_delta = 0
    for mode in ("localCheckpoint", "persist"):
        before = _n_persisted()
        with pin_strategy(mode):
            merges, words = bpe.bpe_train(docs, n_merges=6)
            results[mode] = (
                [tuple(r) for r in merges.orderBy("merge_rank").collect()],
                {tuple(r) for r in dedup.connected_components(edges).collect()},
                {(r.node, r.dist) for r in graph.bfs_distances(bfs_edges, 0).collect()},
                # exercises the r11 pins inside kmeans training stats
                # and SemDeDup's tagged frame too
                {tuple(r) for r in dedup.semantic_dedup(
                    emb, threshold=0.99, k=4, iterations=2
                ).collect()},
            )
        if mode == "persist":
            persist_delta = _n_persisted() - before
    assert results["persist"] == results["localCheckpoint"]
    assert results["persist"][0], "BPE learned no merges"
    # leftover persisted frames must be bounded by the RETURNED-frame
    # pins (per-iteration internal pins release via replaces/unpin):
    # CC final labels + lazy probe pin, BFS last frontier+visited,
    # SemDeDup tagged + kmeans last-stats — a leak of one frame PER
    # ITERATION would blow well past this bound
    # (delta, not absolute: localCheckpointed RDDs from earlier tests
    # in the shared session also register as persistent)
    assert persist_delta <= 10, persist_delta
    spark.catalog.clearCache()


@pytest.mark.parametrize("pin_mode", ["localCheckpoint", "persist"])
def test_pin_lazy_replaces_raises(spark, pin_mode):
    """pin(eager=False, replaces=...) is a caller bug (ADVICE r11):
    a lazy pin hasn't materialized, so releasing its predecessor would
    either recompute from source (localCheckpoint) or leak if silently
    ignored (persist) — it must raise in BOTH modes, not just where
    the leak manifests."""
    from datafusion_randgen_spark.pinning import pin, pin_strategy

    a = spark.range(3)
    b = spark.range(4)
    with pin_strategy(pin_mode):
        with pytest.raises(ValueError, match="eager=False"):
            pin(a, eager=False, replaces=b)


@pytest.mark.parametrize("max_hops", [20, 2])
def test_bfs_terminal_pin_released_under_persist(spark, max_hops):
    """Under persist, bfs_distances must leave exactly ONE pinned frame
    — the returned visited set (documented caller-owned) — on both exit
    paths: empty-frontier break (max_hops=20 on a 3-hop chain) and
    max_hops exhaustion with a non-empty final frontier (max_hops=2).
    Before the ADVICE-r11 fix the terminal frontier leaked one extra
    persisted frame per call."""
    from datafusion_randgen_spark.operators import graph
    from datafusion_randgen_spark.pinning import pin_strategy, unpin

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )

    def _persisted_ids():
        # id SET, not a count: the shared session's ContextCleaner may
        # asynchronously drop GC'd pins from EARLIER tests mid-test,
        # which would skew a count delta; ids newly added by this call
        # are unaffected by unrelated removals
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _persisted_ids()
    with pin_strategy("persist"):
        visited = graph.bfs_distances(edges, 0, max_hops=max_hops)
        got = {(r.node, r.dist) for r in visited.collect()}
        assert len(_persisted_ids() - before) == 1
        unpin(visited)
    assert len(_persisted_ids() - before) == 0
    expect = {(0, 0), (1, 1), (2, 2)} | ({(3, 3)} if max_hops >= 3 else set())
    assert got == expect


def test_bpe_train_job_count_independent_of_n_merges(spark):
    """bpe_train counts the corpus in Spark once and runs every merge
    on the driver, so it starts the same Spark jobs at 2 merges as at
    8.  It pins nothing, so neither pin strategy leaves a new
    persisted RDD behind."""
    from datafusion_randgen_spark.operators import bpe
    from datafusion_randgen_spark.pinning import pin_strategy

    docs = spark.createDataFrame(
        [(i, f"abab abba baab aabb bbaa ab ba {i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext

    def _persisted_ids():
        jmap = sc._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    for mode in ("localCheckpoint", "persist"):
        jobs = {}
        before = _persisted_ids()
        with pin_strategy(mode):
            for n in (2, 8):
                group = f"bpe_train:{mode}:{n}"
                sc.setJobGroup(group, "bpe_train job count")
                try:
                    merges, _ = bpe.bpe_train(docs, n_merges=n)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
                assert merges.count() == n
        assert 0 < jobs[2] == jobs[8], (mode, jobs)
        assert _persisted_ids() - before == set(), mode


def test_semantic_dedup_k_cap(spark):
    """k_cap semantics (VERDICT r11 task 4): a non-binding cap changes
    nothing (byte-identical to k_cap=None), and a binding cap is
    exactly equivalent to calling with k=min(k, k_cap)."""
    emb = spark.createDataFrame(
        [(i, [float((i % 4) * 3 + j) for j in range(4)]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )

    def run(**kw):
        return {
            tuple(r)
            for r in dedup.semantic_dedup(
                emb, threshold=0.99, iterations=2, **kw
            ).collect()
        }

    assert run(k=4, k_cap=None) == run(k=4, k_cap=100)  # cap not binding
    assert run(k=8, k_cap=2) == run(k=2)  # binding cap == smaller k


def test_kmeans_exact_quantized_matches_numpy_replay(spark):
    """The quantized Lloyd's trajectory must equal a straight NumPy
    replay of its spec (quantize->argmin-first-min->floor-div update,
    empty clusters carry) — the in-Python mirror of the DuckDB oracle
    for s_kmeans_exact_replay."""
    import numpy as np

    from datafusion_randgen_spark.operators import clustering

    rng = [((i * 37) % 19 - 9) / 7.0 for i in range(48)]
    vecs = [rng[i * 4:(i + 1) * 4] for i in range(12)]
    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got, got_cents = clustering.kmeans_exact_quantized(
        df, k=3, iterations=2, scale=1000, shift=1024
    )

    # reference replay
    Q = np.floor(
        np.array([[np.float32(x) for x in v] for v in vecs], dtype=np.float64)
        * 1000
    ).astype(np.int64) + 1024
    C = Q[:3].copy()
    want = []
    for it in (1, 2):
        d2 = (
            (Q * Q).sum(1)[:, None] - 2 * (Q @ C.T) + (C * C).sum(1)[None, :]
        )
        a = d2.argmin(1)
        inert = int(d2[np.arange(len(a)), a].sum())
        newC = C.copy()
        counts = {}
        for c in range(3):
            m = a == c
            counts[c] = int(m.sum())
            if counts[c] > 0:
                newC[c] = Q[m].sum(0) // counts[c]
        C = newC
        for c in range(3):
            for p in range(4):
                want.append((it, c, p, int(C[c, p]), counts[c], inert))
    assert got == want
    assert got_cents.tolist() == C.tolist()


def test_semantic_dedup_exact_flags_planted_near_dup(spark):
    """The exact integer cosine verdict must fire: vec 10 is a scaled
    copy of vec 0 (cosine 1 exactly in the quantized ints too, since
    scaling by 2 scales every quantized component exactly at these
    values), vec 11 is orthogonal to everything — only vec 10 may be
    flagged, and dots must equal the NumPy integers."""
    import numpy as np

    from datafusion_randgen_spark.operators import dedup

    base = [0.2, -0.4, 0.1, 0.3]
    rows = [(0, base)]
    rows += [
        (i, [float((i * 7 + j * 3) % 5 - 2) / 4.0 for j in range(4)])
        for i in range(1, 10)
    ]
    rows.append((10, [x * 2 for x in base]))  # same direction as 0
    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: (r.cluster, r.rep_id, r.dot, r.is_dup)
        for r in dedup.semantic_dedup_exact(
            df, k=2, iterations=2, scale=500, tau_sq=(49, 100)
        ).collect()
    }
    assert len(out) == 11
    # the planted co-directional pair must land in one cell with a
    # True verdict on the non-rep member (cos = 1 > 0.7)
    c0, rep0, _, _ = out[0]
    c10, rep10, dot10, dup10 = out[10]
    assert c10 == c0 and rep10 == rep0
    flagged = {i for i, (_, _, _, d) in out.items() if d}
    assert 10 in flagged or 0 in flagged
    # reps are never self-flagged
    for i, (c, rep, dot, d) in out.items():
        if i == rep:
            assert not d
    # exact dot check for the planted pair against NumPy integers
    q = {
        i: np.floor(np.array([np.float32(x) for x in v], dtype=np.float64) * 500).astype(np.int64)
        for i, v in rows
    }
    rep = out[10][1]
    assert out[10][2] == int((q[10] * q[rep]).sum())


def test_pq_exact_quantized_matches_numpy_replay(spark):
    """pq_exact_quantized must equal a straight NumPy replay of its
    spec (per-subspace quantized Lloyd's, exact encode, exact ADC
    against the lowest-id query) — the in-Python mirror of the DuckDB
    oracle for s_pq_exact_replay."""
    import numpy as np

    from datafusion_randgen_spark.operators import similarity

    vecs = [
        [((i * 13 + j * 7) % 11 - 5) / 6.0 for j in range(8)]
        for i in range(10)
    ]
    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    m, k, iters, scale, sd = 2, 3, 2, 500, 4
    got = {
        r.vec_id: (r.code0, r.code1, r.adc_d2)
        for r in similarity.pq_exact_quantized(
            df, m=m, k=k, iterations=iters, scale=scale
        ).collect()
    }

    Q = np.floor(
        np.array([[np.float32(x) for x in v] for v in vecs], dtype=np.float64)
        * scale
    ).astype(np.int64)
    C = np.stack([Q[:k, j * sd:(j + 1) * sd].copy() for j in range(m)])
    for _ in range(iters):
        newC = C.copy()
        for j in range(m):
            S = Q[:, j * sd:(j + 1) * sd]
            d2 = (
                (S * S).sum(1)[:, None] - 2 * (S @ C[j].T)
                + (C[j] * C[j]).sum(1)[None, :]
            )
            a = d2.argmin(1)
            for c in range(k):
                msk = a == c
                if msk.sum() > 0:
                    newC[j, c] = S[msk].sum(0) // int(msk.sum())
        C = newC
    codes = np.zeros((len(vecs), m), dtype=int)
    for j in range(m):
        S = Q[:, j * sd:(j + 1) * sd]
        d2 = (
            (S * S).sum(1)[:, None] - 2 * (S @ C[j].T)
            + (C[j] * C[j]).sum(1)[None, :]
        )
        codes[:, j] = d2.argmin(1)
    qv = Q[0]
    want = {}
    for i in range(len(vecs)):
        adc = 0
        for j in range(m):
            diff = qv[j * sd:(j + 1) * sd] - C[j][codes[i, j]]
            adc += int((diff * diff).sum())
        want[i] = (codes[i, 0], codes[i, 1], adc)
    assert got == want


def test_ivfpq_exact_quantized_matches_numpy_replay(spark):
    """ivfpq_exact_quantized must equal a straight NumPy replay of its
    spec: exact coarse cells -> integer residuals -> per-subspace exact
    residual codebooks -> exact encode -> exact per-cell-LUT ADC — the
    in-Python mirror of the DuckDB oracle for s_ivfpq_exact_replay."""
    import numpy as np

    from datafusion_randgen_spark.operators import similarity

    vecs = [
        [((i * 17 + j * 5) % 13 - 6) / 7.0 for j in range(8)]
        for i in range(12)
    ]
    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    nc, cit, m, k, pit, scale, sd = 2, 2, 2, 2, 2, 500, 4
    got = {
        r.vec_id: (r.cell, r.code0, r.code1, r.adc_d2)
        for r in similarity.ivfpq_exact_quantized(
            df, n_cells=nc, coarse_iterations=cit, m=m, k=k,
            pq_iterations=pit, scale=scale,
        ).collect()
    }

    Q = np.floor(
        np.array([[np.float32(x) for x in v] for v in vecs], dtype=np.float64)
        * scale
    ).astype(np.int64)

    def lloyd(X, C, iters):
        C = C.copy()
        for _ in range(iters):
            d2 = (
                (X * X).sum(1)[:, None] - 2 * (X @ C.T)
                + (C * C).sum(1)[None, :]
            )
            a = d2.argmin(1)
            newC = C.copy()
            for c in range(len(C)):
                msk = a == c
                if msk.sum() > 0:
                    newC[c] = X[msk].sum(0) // int(msk.sum())
            C = newC
        return C

    def assign(X, C):
        d2 = (
            (X * X).sum(1)[:, None] - 2 * (X @ C.T) + (C * C).sum(1)[None, :]
        )
        return d2.argmin(1)

    CC = lloyd(Q, Q[:nc].copy(), cit)
    cells = assign(Q, CC)
    R = Q - CC[cells]
    PQ = [
        lloyd(
            R[:, j * sd:(j + 1) * sd],
            R[:k, j * sd:(j + 1) * sd].copy(),
            pit,
        )
        for j in range(m)
    ]
    codes = np.stack(
        [assign(R[:, j * sd:(j + 1) * sd], PQ[j]) for j in range(m)], axis=1
    )
    want = {}
    for i in range(len(vecs)):
        qr = Q[0] - CC[cells[i]]
        adc = 0
        for j in range(m):
            diff = qr[j * sd:(j + 1) * sd] - PQ[j][codes[i, j]]
            adc += int((diff * diff).sum())
        want[i] = (cells[i], codes[i, 0], codes[i, 1], adc)
    assert got == want
