"""Property-based tests (hypothesis) for operator invariants that must
hold on ANY input, not just the driver corpus. Example counts are kept
small - each example is a Spark job - but inputs include the adversarial
shapes (hot keys, ties, empty groups) that fixed fixtures miss."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

SLOW = settings(max_examples=5, deadline=None)

rows = st.lists(
    st.tuples(
        st.integers(0, 3),                     # key (few keys -> hot groups)
        st.integers(-1000, 1000),              # value (scaled to 2dp below)
    ),
    min_size=1,
    max_size=60,
)


@SLOW
@given(rows)
def test_salted_agg_equals_groupby_on_any_input(spark, data):
    from reactive_data_pipeline_spark.operators.skew import salted_sum_count

    df = spark.createDataFrame(
        [(k, v / 100.0, i) for i, (k, v) in enumerate(data)],
        "k long, v double, rid long",
    )
    plain = {
        r.k: (round(r.s, 6), r.n)
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    salted = {
        r.k: (round(r.value_total, 6), r.n_rows)
        for r in salted_sum_count(df, ["k"], "v", n_salts=4, salt_on="rid").collect()
    }
    assert salted == plain


asof_case = st.tuples(
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 50)), min_size=1, max_size=20),
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 50)), min_size=0, max_size=20),
)


@SLOW
@given(asof_case)
def test_asof_backward_matches_reference_model(spark, case):
    from reactive_data_pipeline_spark.operators.joins import asof_join

    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k long, lt long, lid long"
    )
    right = spark.createDataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(right_rows)] or [],
        "k long, rt long, rid long",
    )
    got = {
        r.lid: r.rid
        for r in asof_join(left, right, on="k", left_ts="lt", right_ts="rt").collect()
    }
    # Reference model: nearest prior right row (rt <= lt, max rt); among
    # equal rt the union-sort trick keeps the LAST right row in sort
    # order, i.e. highest rid for our monotone ids.
    for i, (k, lt) in enumerate(left_rows):
        cands = [
            (rt, 100 + j) for j, (rk, rt) in enumerate(right_rows) if rk == k and rt <= lt
        ]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, lt, cands)


@SLOW
@given(st.lists(st.text("ab ", min_size=0, max_size=30), min_size=1, max_size=12))
def test_minhash_pairs_respect_threshold_and_symmetry(spark, texts):
    from reactive_data_pipeline_spark.dedup.minhash import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(docs, n=1, num_hashes=8, bands=4, threshold=0.5).collect()
    for r in pairs:
        assert r.doc_a < r.doc_b          # canonical orientation, no dupes
        assert 0.5 <= r.jaccard <= 1.0    # verification never lies


@SLOW
@given(
    st.lists(
        # (user, epoch micros): up to ~3 h, so gaps straddle the 30 min rule
        st.tuples(st.integers(0, 1), st.integers(0, 10_000_000_000)), min_size=1, max_size=40
    )
)
# 1800.07 s apart: a new session, although whole epoch seconds differ by
# exactly the 1800 s gap; and exactly 1800 s apart: the same session.
@example([(0, 500_000), (0, 1_800_570_000)])
@example([(0, 500_000), (0, 1_800_500_000)])
def test_sessionize_stream_fold_matches_batch_rule(spark, rows_in):
    """The applyInPandasWithState fold (single batch) must agree with the
    batch lag+running-sum sessionization on any event set: gaps compared
    in microseconds, durations in whole seconds."""
    from reactive_data_pipeline_spark.streaming.sessions import (
        SESSION_GAP_MIN,
        _fold_user,
    )

    gap_s = SESSION_GAP_MIN * 60

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True

    import pandas as pd

    by_user = {}
    for i, (u, t) in enumerate(rows_in):
        by_user.setdefault(u, []).append((i, t))
    got = {}
    for u, evs in by_user.items():
        pdf = pd.DataFrame(
            {"event_id": [i for i, _ in evs], "__us": [t for _, t in evs],
             "value": [1.0] * len(evs)}
        )
        for out in _fold_user((u,), iter([pdf]), FakeState(), gap_s):
            for r in out.itertuples():
                got[(r.user_id, r.session_no)] = (r.n_events, r.duration_s)
    # reference model: sort by ts, break at gap > gap_s (in micros)
    expected = {}
    for u, evs in by_user.items():
        ts = sorted(t for _, t in evs)
        sno, start, last, n = 0, None, None, 0
        for t in ts:
            if start is not None and t - last <= gap_s * 1_000_000:
                last, n = t, n + 1
            else:
                if start is not None:
                    expected[(u, sno)] = (n, last // 1_000_000 - start // 1_000_000)
                sno, start, last, n = sno + 1, t, t, 1
        expected[(u, sno)] = (n, last // 1_000_000 - start // 1_000_000)
    assert got == expected


texts_strat = st.lists(st.text("xy z", min_size=0, max_size=40), min_size=1, max_size=10)


@SLOW
@given(texts_strat)
def test_dedup_partitions_the_corpus_on_any_input(spark, texts):
    """exact_dedup_groups partitions rows (copy counts sum to N) and
    dedup_documents is idempotent with exactly one keeper per group."""
    from reactive_data_pipeline_spark.dedup import dedup_documents, exact_dedup_groups

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    groups = exact_dedup_groups(docs).collect()
    assert sum(r.n_copies for r in groups) == len(texts)
    kept = dedup_documents(docs)
    assert kept.count() == len(groups)
    again = dedup_documents(kept)
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        r.doc_id for r in kept.collect()
    )


@SLOW
@given(st.lists(st.integers(0, 80), min_size=1, max_size=8))
def test_chunking_covers_every_token_exactly(spark, lengths):
    """Chunk windows: first chunk starts at 0, strides are constant,
    every chunk is non-empty and <= chunk_tokens, and the union of
    windows covers all T tokens."""
    from reactive_data_pipeline_spark.functions.chunking import chunk_documents

    chunk_tokens, overlap = 8, 3
    stride = chunk_tokens - overlap
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(lengths)],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=chunk_tokens, overlap=overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    for i, n in enumerate(lengths):
        if n == 0:
            # empty text splits to [''] (same as DuckDB string_split):
            # one chunk holding the single empty token
            assert by_doc[i] == [(0, 1)]
            continue
        chunks = sorted(by_doc[i])
        assert chunks[0][0] == 0
        assert [c for c, _ in chunks] == list(range(len(chunks)))
        assert all(0 < t <= chunk_tokens for _, t in chunks)
        # coverage: last chunk reaches the last token
        last_idx, last_n = chunks[-1]
        assert last_idx * stride + last_n == n


@SLOW
@given(st.lists(st.integers(1, 9), min_size=1, max_size=25))
def test_pack_bins_running_sum_rule_bounds_overflow(spark, token_counts):
    """bin_id is non-decreasing in pack order and every bin except
    possibly the last holds >= bin_tokens - max_chunk tokens; no bin
    exceeds bin_tokens + max_chunk (the bounded-overflow contract)."""
    from reactive_data_pipeline_spark.functions.chunking import pack_bins

    bin_tokens, max_chunk = 16, 9
    chunks = spark.createDataFrame(
        [(0, i, n) for i, n in enumerate(token_counts)],
        "doc_id long, chunk_idx long, n_tokens long",
    )
    rows = sorted(pack_bins(chunks, bin_tokens=bin_tokens).collect(),
                  key=lambda r: (r.doc_id, r.chunk_idx))
    bins = {}
    prev = 0
    for r in rows:
        assert r.bin_id >= prev
        prev = r.bin_id
        bins[r.bin_id] = bins.get(r.bin_id, 0) + r.n_tokens
    for b, total in bins.items():
        assert total <= bin_tokens + max_chunk
        if b != max(bins):
            assert total >= bin_tokens - max_chunk


@SLOW
@given(texts_strat)
def test_contamination_is_total_against_itself(spark, texts):
    """A corpus checked against itself is 100% contaminated; counts are
    always bounded by the doc's gram count."""
    from reactive_data_pipeline_spark.functions.curation import contamination_overlap

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = contamination_overlap(docs, docs, n=1).collect()
    for r in out:
        assert r.n_contaminated == r.n_grams
        assert r.contamination_ratio == 1.0


bloom_case = st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=30)


@SLOW
@given(bloom_case)
def test_bloom_never_misses_a_built_key(spark, keys):
    """Structural zero-false-negative property on arbitrary strings
    (incl. unicode and near-duplicates)."""
    from reactive_data_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    bf = bloom_build(df, "k", num_bits=1 << 10, k=3)
    missed = (
        df.distinct()
        .crossJoin(F.broadcast(bf))
        .filter(~bloom_might_contain("bloom_words", "k", num_bits=1 << 10, k=3))
        .count()
    )
    assert missed == 0


interval_case = st.tuples(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 10_000)),  # (key, point-second)
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 10_000), st.integers(0, 5_000)),
        min_size=1,
        max_size=10,  # (key, start-second, length)
    ),
)


@SLOW
@given(interval_case)
def test_interval_bucket_join_equals_theta_join(spark, case):
    """Bucket decomposition + residual filter == the naive range theta
    join, for any interval lengths (incl. zero-length and bucket-boundary
    spanning) and any bucket width."""
    from reactive_data_pipeline_spark.operators.joins import interval_bucket_join

    points, intervals = case
    pts = spark.createDataFrame(
        [(k, f"2024-01-01 00:00:{0:02d}", s) for k, s in points],
        "k long, pad string, sec long",
    ).select("k", F.expr("timestamp_micros(CAST(1704067200000000 + sec * 1000000 AS LONG))").alias("ts"))
    iv = spark.createDataFrame(
        [(i, k, s, s + ln) for i, (k, s, ln) in enumerate(intervals)],
        "iid long, k long, s0 long, s1 long",
    ).select(
        "iid",
        "k",
        F.expr("timestamp_micros(CAST(1704067200000000 + s0 * 1000000 AS LONG))").alias("st"),
        F.expr("timestamp_micros(CAST(1704067200000000 + s1 * 1000000 AS LONG))").alias("en"),
    )
    bucketed = interval_bucket_join(
        pts, iv, on="k", ts="ts", start="st", end="en", bucket_seconds=1800
    )
    naive = pts.join(
        iv, (pts.k == iv.k) & (pts.ts >= iv.st) & (pts.ts <= iv.en)
    )
    assert bucketed.count() == naive.count()


upsert_seq = st.lists(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 20)),  # (key, version)
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@SLOW
@given(upsert_seq)
def test_upsert_converges_to_per_key_max_version(spark, tmp_path_factory, batches):
    """Any sequence of upsert batches must converge to: per key, the
    highest version ever written (with the LATEST batch winning equal
    versions - last-writer-wins)."""
    from reactive_data_pipeline_spark.operators.upsert import (
        read_upserted,
        upsert_partitioned,
    )

    path = str(tmp_path_factory.mktemp("ups")) + "/t"
    expected: dict[int, tuple[int, int]] = {}  # key -> (version, batch_idx)
    for bi, batch in enumerate(batches):
        rows = [(k, f"b{bi}", v) for k, v in batch]
        df = spark.createDataFrame(rows, "id long, val string, ver long")
        upsert_partitioned(spark, path, df, ["id"], "ver")
        # model: within a batch, max_by picks the max (ver, ...) row;
        # across batches, incoming wins ties.
        best_in_batch: dict[int, int] = {}
        for k, v in batch:
            best_in_batch[k] = max(best_in_batch.get(k, -1), v)
        for k, v in best_in_batch.items():
            if k not in expected or v >= expected[k][0]:
                expected[k] = (v, bi)
    got = {
        r["id"]: (r["ver"], int(r["val"][1:]))
        for r in read_upserted(spark, path).collect()
    }
    assert got == expected


zorder_grid = st.lists(
    st.tuples(st.integers(0, 255), st.integers(0, 255)),
    min_size=1,
    max_size=40,
    unique=True,
)


@SLOW
@given(zorder_grid)
def test_zorder_key_is_injective_on_the_grid(spark, cells):
    """Distinct (x, y) grid cells must map to distinct Morton keys
    (bit interleaving is a bijection onto 2*bits-bit integers)."""
    from reactive_data_pipeline_spark.functions.zorder import zorder_key

    df = spark.createDataFrame(cells, "x long, y long")
    keys = df.select(zorder_key(["x", "y"], bits=8).alias("k"))
    assert keys.distinct().count() == len(cells)
    mx = keys.agg(F.max("k")).collect()[0][0]
    assert 0 <= mx < (1 << 16)


# Adversarial BPE vocabularies: tiny alphabet forces repeated-symbol
# runs ('aaaa', 'abab') - the exact shapes where a naive merge rule
# diverges from greedy non-overlapping left-to-right.
bpe_words = st.lists(
    st.tuples(
        st.text(alphabet="ab", min_size=1, max_size=8),  # word
        st.integers(1, 5),                               # count
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(max_examples=4, deadline=None)
@given(bpe_words)
def test_bpe_iterate_matches_python_reference_on_any_vocab(spark, vocab):
    from reactive_data_pipeline_spark.queries.llm4 import _bpe_iterate

    from .test_llm4_ops import _python_bpe

    wc = dict(vocab)
    rounds = 2
    # The loop needs at least one adjacent pair to merge each round;
    # pad the vocabulary so round 2 always has a candidate.
    wc.setdefault("abababab", 1)
    words = spark.createDataFrame(list(wc.items()), "w string, cnt long")
    final, stats = _bpe_iterate(words, rounds)
    got_stats = []
    for s in stats:
        r = s.collect()[0]
        got_stats.append(
            (r.round, r.sym_a, r.sym_b, r.pair_count, r.n_types_after, r.corpus_tokens_after)
        )
    assert got_stats == _python_bpe(wc, rounds)

    # And the per-word final segmentations match the reference walk.
    ref_state = {w: tuple(w) for w in wc}
    for rnd in range(rounds):
        a, b = got_stats[rnd][1], got_stats[rnd][2]
        for w, syms in ref_state.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            ref_state[w] = tuple(merged)
    got_state = {r.w: tuple(r.syms) for r in final.collect()}
    assert got_state == ref_state
