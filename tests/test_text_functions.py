"""Behavioral tests for the Gopher-style repetition signals (the rest of
the text scalar library is pinned by the oracle-parity gate)."""

from __future__ import annotations

from flink_streaming_demo_spark.functions import text as TX


def test_repetition_agg_counts(spark):
    rows = [
        (1, "a b a b a b"),        # 2-grams: ab ba ab ba ab -> top "a b" x3
        (2, "w x y z"),            # all distinct: wx xy yz
        (3, "solo"),               # < 2 tokens -> no rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_2grams, r.n_distinct_2grams, r.top_2gram_count)
        for r in TX.repetition_agg(df).collect()
    }
    assert got == {1: (5, 2, 3), 2: (3, 3, 1)}
    assert 3 not in got  # single-token doc: callers coalesce to zero


def test_repetition_cols_match_agg(spark):
    """The per-row repetition expressions (the shuffle-free form
    text_quality_scores uses since r15) must equal the explode+groupBy
    form wherever the agg produces a row, and behave like the agg's
    missing-row/NULL cases elsewhere (0/0/0 for sub-2-token docs, NULL
    for NULL text)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "a b a b a b"),
        (2, "w x y z"),
        (3, "solo"),
        (4, None),
        (5, "r r r r r r r r r r"),  # one gram repeated 9x
        (6, "x y x z x y x y"),      # mixed runs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n2, nd2, top2 = TX.repetition_cols("text")
    got = {
        r.doc_id: (r.n2, r.nd2, r.top2)
        for r in df.select(
            "doc_id", n2.alias("n2"), nd2.alias("nd2"), top2.alias("top2")
        ).collect()
    }
    agg = {
        r.doc_id: (r.n_2grams, r.n_distinct_2grams, r.top_2gram_count)
        for r in TX.repetition_agg(df).collect()
    }
    for doc_id, expect in agg.items():
        assert got[doc_id] == expect
    assert got[3] == (0, 0, 0)       # sub-2-token: agg emits no row
    assert got[4] == (None, None, None)  # NULL text propagates


def test_quality_score_exprs_survive_sub_2gram_docs(spark):
    """text_quality_scores' select list must not throw DIVIDE_BY_ZERO
    under ANSI mode for docs with < 2 tokens (n_2grams = 0, non-NULL) or
    NULL text — both must yield the 0.0 the old explode+groupBy+left-join
    shape produced (r16 ADVICE)."""
    from flink_streaming_demo_spark.plans.text_queries import (
        _quality_score_exprs,
    )

    df = spark.createDataFrame(
        [(1, "solo"), (2, None), (3, "a b a b a b")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in df.select(*_quality_score_exprs()).collect()}
    assert got[1].n_2grams == 0
    assert got[1].dup_2gram_frac == 0.0
    assert got[1].top_2gram_share == 0.0
    assert got[2].n_2grams == 0
    assert got[2].dup_2gram_frac == 0.0
    assert got[2].top_2gram_share == 0.0
    # sanity on a normal doc: 5 grams, 2 distinct, top x3
    assert got[3].n_2grams == 5
    assert got[3].dup_2gram_frac == 0.6
    assert got[3].top_2gram_share == 0.6


def test_winnow_fingerprints_match_python_model(spark):
    """The expression-tree winnowing must match a straightforward Python
    model (rightmost-minimum per window) — including repeated-gram ties,
    fewer grams than the window, and sub-k docs."""
    import hashlib

    from flink_streaming_demo_spark.functions.text import (
        WINNOW_K,
        WINNOW_W,
        _WINNOW_P,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "a a a a a a a a",                      # all-tie grams
        3: "one two three",                        # exactly k tokens, 1 gram
        4: "short doc",                            # < k tokens -> no grams
        5: "the quick brown fox jumps over the lazy dog",  # dup of 1
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.n_fingerprints, r.winnow_digest)
        for r in TX.winnow_fingerprints(df).collect()
    }

    def model(text):
        toks = text.split(" ")
        hs = [
            int(hashlib.md5(
                " ".join(toks[i:i + WINNOW_K]).encode()
            ).hexdigest()[:8], 16) % _WINNOW_P
            for i in range(len(toks) - WINNOW_K + 1)
        ] if len(toks) >= WINNOW_K else []
        m = len(hs)
        positions = set()
        for i in range(max(m - WINNOW_W + 1, 1)):
            win = hs[i:i + WINNOW_W]
            if not win:
                continue
            mn = min(win)
            # rightmost occurrence of the minimum
            j = len(win) - 1 - win[::-1].index(mn)
            positions.add(i + j)
        sel = sorted(positions)
        digest = hashlib.md5(
            ",".join(str(hs[p]) for p in sel).encode()
        ).hexdigest()
        return (m, len(sel), digest)

    for doc_id, text in texts.items():
        assert got[doc_id] == model(text), doc_id
    assert got[1] == got[5]  # identical text -> identical fingerprints


def test_unigram_logprob_orders_rare_above_common(spark):
    """A doc of corpus-rare tokens must out-score a doc of the corpus's
    dominant token, and every score is a positive mean of -ln p."""
    import math

    from flink_streaming_demo_spark.plans.text_queries import (
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [
            (0, "the the the the"),        # dominant token only
            (1, "the the qux zephyr"),     # half rare
            (2, "qux zephyr vortex glyph"),  # all singletons
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert all(got[i].n_tokens == 4 for i in got)
    assert got[0].avg_neg_logp < got[1].avg_neg_logp < got[2].avg_neg_logp
    # Exact check: counts over the 12-token corpus are the=6,
    # qux=zephyr=2, vortex=glyph=1.
    assert abs(got[0].avg_neg_logp - (-math.log(0.5))) < 1e-6
    expected2 = (2 * -math.log(2 / 12) + 2 * -math.log(1 / 12)) / 4
    assert abs(got[2].avg_neg_logp - expected2) < 1e-6


def test_token_entropy_planted_values(spark):
    """Exact entropy/TTR on planted docs: a constant doc has entropy 0,
    a 4-distinct-token doc has entropy ln(4); TTR = types/tokens."""
    import math

    from flink_streaming_demo_spark.plans.text_queries import token_entropy

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b c c")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in token_entropy(docs).collect()}
    assert out[1].entropy == 0.0 and out[1].ttr == 0.25
    assert out[2].entropy == round(math.log(4), 6) and out[2].ttr == 1.0
    assert out[3].entropy == round(math.log(3), 6) and out[3].ttr == 0.5
    assert out[3].n_tokens == 6 and out[3].n_types == 3


def test_chisq_zero_under_independence_large_under_dependence(spark):
    """A perfectly independent source x lang table yields chi2 == 0; a
    diagonal (fully dependent) table yields chi2 == N * (cells-ish)."""
    from flink_streaming_demo_spark.plans.text_queries import (
        source_lang_chisq,
    )

    indep = spark.createDataFrame(
        [(i, f"s{i % 2}", f"l{(i // 2) % 2}") for i in range(40)],
        "doc_id long, source string, lang string",
    )
    out = source_lang_chisq(indep).collect()
    assert all(r.chisq_total == 0.0 and r.chisq_contrib == 0.0 for r in out)
    diag = spark.createDataFrame(
        [(i, f"s{i % 2}", f"l{i % 2}") for i in range(40)],
        "doc_id long, source string, lang string",
    )
    out2 = source_lang_chisq(diag).collect()
    # 2x2 fully dependent: chi2 == N
    assert all(r.chisq_total == 40.0 for r in out2)


def test_bigram_logprob_exact_and_orders_incoherent_higher(spark):
    """Exact add-one-smoothed values on a planted corpus, and the
    locally-incoherent doc (unseen transitions) outscores the one built
    from the corpus's common transitions."""
    import math
    from collections import Counter

    from flink_streaming_demo_spark.plans.text_queries import (
        bigram_logprob,
    )

    texts = {1: "a b a b a b", 2: "a b a b", 3: "b b c a"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bigram_logprob(docs).collect()}

    all_tokens = [t for s in texts.values() for t in s.split()]
    vocab = len(set(all_tokens))
    c2 = Counter()
    for s in texts.values():
        ws = s.split()
        c2.update(zip(ws, ws[1:]))
    c1 = Counter()
    for (w1, _), c in c2.items():
        c1[w1] += c
    for doc_id, s in texts.items():
        ws = s.split()
        bgs = list(zip(ws, ws[1:]))
        want = sum(
            -math.log((c2[b] + 1) / (c1[b[0]] + vocab)) for b in bgs
        ) / len(bgs)
        assert abs(got[doc_id].avg_neg_logp2 - want) < 2e-6, doc_id
        assert got[doc_id].n_bigrams == len(bgs)
    assert got[3].avg_neg_logp2 > got[1].avg_neg_logp2


def test_strip_dup_spans_planted_passage(spark):
    """Two docs share a 10-token passage embedded in otherwise-unique
    text (SPAN_N=8, so 3 windows fit inside the passage and none
    straddles into the unique flanks); a third doc shares nothing.
    The span boundaries, counts, and stripped residue must be exact."""
    import hashlib

    from flink_streaming_demo_spark.plans.text_queries import (
        SPAN_N,
        strip_dup_spans,
    )

    assert SPAN_N == 8
    shared = " ".join(f"dup{i}" for i in range(10))
    a_head, a_tail = "a1 a2 a3", "a4 a5"
    b_head, b_tail = "b1 b2 b3 b4", "b5"
    docs = spark.createDataFrame(
        [
            (1, f"{a_head} {shared} {a_tail}"),
            (2, f"{b_head} {shared} {b_tail}"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in strip_dup_spans(docs).collect()}
    # Doc 1: tokens 4..13 covered (the 10 shared tokens; windows start
    # at 4,5,6 and cover [4,13]) -> one span of 10 dup tokens.
    assert (got[1].n_tokens, got[1].dup_token_count, got[1].n_spans) == (15, 10, 1)
    assert got[1].kept_hash == hashlib.md5(b"a1 a2 a3 a4 a5").hexdigest()
    assert (got[2].n_tokens, got[2].dup_token_count, got[2].n_spans) == (15, 10, 1)
    assert got[2].kept_hash == hashlib.md5(b"b1 b2 b3 b4 b5").hexdigest()
    # Doc 3: nothing shared -> untouched.
    assert (got[3].dup_token_count, got[3].n_spans) == (0, 0)
    assert got[3].kept_hash == hashlib.md5(
        b"c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    ).hexdigest()


def test_strip_dup_spans_identical_docs_fully_covered(spark):
    """Two identical docs (>= SPAN_N tokens): every position is covered,
    residue is empty, and the whole doc is one span."""
    import hashlib

    from flink_streaming_demo_spark.plans.text_queries import strip_dup_spans

    text = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    for r in strip_dup_spans(docs).collect():
        assert (r.n_tokens, r.dup_token_count, r.n_spans) == (12, 12, 1)
        assert r.kept_hash == hashlib.md5(b"").hexdigest()


def test_logreg_first_gd_step_matches_hand_computation(spark):
    """One GD iteration from w=0 on a 2-doc frame must produce exactly
    the hand-computed round-6 weights: p = sigmoid(0) = 0.5 for every
    doc, so w_j = -lr * mean((0.5 - y) * x_j)."""
    from flink_streaming_demo_spark.operators.classify import logreg_train

    feats = spark.createDataFrame(
        [(1, [1.0, 0.2, 0.3, 0.1, 0.5], 1.0),
         (2, [1.0, 0.8, 0.1, 0.0, 0.4], 0.0)],
        "doc_id long, x array<double>, y double",
    )
    got = logreg_train(feats, lr=2.0, n_iterations=1).collect()[0].w
    # grad_j = mean((p - y) * x_j) with p = 0.5:
    #   doc1 contributes -0.5 * x, doc2 contributes +0.5 * x
    want = [
        round(0.0 - 2.0 * round((-0.5 * a + 0.5 * b) / 2.0, 6), 6)
        for a, b in zip([1.0, 0.2, 0.3, 0.1, 0.5],
                        [1.0, 0.8, 0.1, 0.0, 0.4])
    ]
    assert got == want


def test_logreg_learns_separable_labels(spark):
    """On a linearly separable planted set (y = x1 > 0.5), enough GD
    iterations must reach 100% train accuracy and order scores with the
    labels."""
    from flink_streaming_demo_spark.operators.classify import (
        logreg_score,
        logreg_train,
    )

    rows = [
        (i, [1.0, i / 20.0, 0.0, 0.0, 0.0], 1.0 if i / 20.0 > 0.5 else 0.0)
        for i in range(21)
    ]
    feats = spark.createDataFrame(
        rows, "doc_id long, x array<double>, y double"
    )
    w = logreg_train(feats, lr=8.0, n_iterations=20)
    out = logreg_score(feats, w).collect()
    assert all((r.score >= 0.5) == (r.y == 1.0) for r in out)
    top = max(out, key=lambda r: r.score)
    bot = min(out, key=lambda r: r.score)
    assert top.y == 1.0 and bot.y == 0.0


def _reference_bpe(word_counts, n_merges):
    """Plain-Python BPE (Sennrich et al.) on a word-frequency dict, greedy
    left-to-right merge application, ties (count DESC, pa, pb)."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (pa, pb), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((pa, pb, c))
        new_vocab = {}
        for sym, c2 in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == pa and sym[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c2
        vocab = new_vocab
    return merges


def test_bpe_merges_match_reference_implementation(spark):
    """The DataFrame trainer must reproduce a plain-Python BPE exactly on
    a corpus engineered to hit the tricky cases: overlapping repeats
    (aaa -> aa+a), adjacent pair repeats (abab -> ab ab), and a merge
    whose operand is itself a merged symbol."""
    from flink_streaming_demo_spark.operators.bpe import bpe_train_merges

    words = {
        "aaa": 10, "abab": 8, "banana": 6, "bandana": 5, "ana": 4,
    }
    text = " ".join(w for w, c in words.items() for _ in range(c))
    docs = spark.createDataFrame([(text,)], "text string")
    got = [
        (r.pa, r.pb, r.pair_count)
        for r in bpe_train_merges(docs, n_merges=5)
        .orderBy("rank")
        .collect()
    ]
    want = _reference_bpe(words, 5)
    assert got == want


def test_bpe_greedy_overlap_on_run_of_repeats(spark):
    """'aaaa' x1: pairs (a,a) count 3 -> merge 1 rewrites to (aa, aa);
    merge 2 must then be (aa, aa), proving the left-to-right greedy
    application and the delimiter representation survive self-adjacency."""
    from flink_streaming_demo_spark.operators.bpe import bpe_train_merges

    docs = spark.createDataFrame([("aaaa",)], "text string")
    got = [
        (r.rank, r.pa, r.pb, r.pair_count)
        for r in bpe_train_merges(docs, n_merges=2).orderBy("rank").collect()
    ]
    assert got == [(1, "a", "a", 3), (2, "aa", "aa", 1)]


def test_bpe_segment_matches_reference_apply(spark):
    """Segmenting with a trained table must match the plain-Python BPE
    applied word-by-word, including subword counts and the exact
    segmented stream digest."""
    import hashlib

    from flink_streaming_demo_spark.operators.bpe import (
        bpe_segment,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "banana bandana aaa"), (2, "abab banana")],
        "doc_id long, text string",
    )
    merges_df = bpe_train_merges(docs.select("text"), n_merges=4)
    merges = [
        (r.pa, r.pb)
        for r in merges_df.orderBy("rank").collect()
    ]

    def apply_word(w):
        sym = list(w)
        for pa, pb in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == pa and sym[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    got = {r.doc_id: r for r in bpe_segment(docs, merges_df).collect()}
    for doc_id, text in [(1, "banana bandana aaa"), (2, "abab banana")]:
        segs = [apply_word(w) for w in text.split(" ")]
        stream = " ".join(
            "|" + "||".join(s) + "|" for s in segs
        )
        r = got[doc_id]
        assert r.n_words == len(segs)
        assert r.n_subwords == sum(len(s) for s in segs)
        assert r.seg_hash == hashlib.md5(stream.encode()).hexdigest()


def test_bpe_batched_equals_sequential_when_non_interacting(spark):
    """On a corpus whose top pairs are pairwise non-interacting (disjoint
    symbol sets), a single batched pass of K merges must reproduce the
    K-merge sequential trajectory exactly — merging one pair cannot
    change any other pair's count, so the snapshot ranking IS the greedy
    ranking. This pins the batched trainer's core claim: the keep-filter
    only ever drops merges that the snapshot could mis-count."""
    from flink_streaming_demo_spark.operators.bpe import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    # ab x5, cd x4, ef x3: candidates (a,b) (c,d) (e,f) — all disjoint
    text = " ".join(["ab"] * 5 + ["cd"] * 4 + ["ef"] * 3)
    docs = spark.createDataFrame([(text,)], "text string")
    seq = [
        (r.rank, r.pa, r.pb, r.pair_count)
        for r in bpe_train_merges(docs, n_merges=3).orderBy("rank").collect()
    ]
    bat = [
        (r.rank, r.pa, r.pb, r.pair_count)
        for r in bpe_train_merges_batched(docs, n_batches=1, batch_k=3)
        .orderBy("rank")
        .collect()
    ]
    assert seq == bat == [(1, "a", "b", 5), (2, "c", "d", 4), (3, "e", "f", 3)]


def test_bpe_batched_conflict_drop_defers_interacting_merge(spark):
    """ab x3, bc x2: (a,b) and (b,c) share symbol b, so pass 1 must keep
    only the top candidate and pass 2 picks up (b,c) from a FRESH
    snapshot — the deferred merge lands with its recount, proving the
    anti-join conflict resolution and the cross-pass global rank."""
    from flink_streaming_demo_spark.operators.bpe import (
        bpe_train_merges_batched,
    )

    text = " ".join(["ab"] * 3 + ["bc"] * 2)
    docs = spark.createDataFrame([(text,)], "text string")
    got = [
        (r.rank, r.pa, r.pb, r.pair_count)
        for r in bpe_train_merges_batched(docs, n_batches=2, batch_k=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(1, "a", "b", 3), (2, "b", "c", 2)]


def test_bpe_batched_degenerate_no_pairs(spark):
    """Single-char vocab: no adjacent pairs, batched trainer must return
    the same empty merge table as the sequential one (no IndexError on
    the zero-winners path)."""
    from flink_streaming_demo_spark.operators.bpe import (
        bpe_train_merges_batched,
    )

    docs = spark.createDataFrame([("a b c a b",)], "text string")
    assert bpe_train_merges_batched(docs, n_batches=2).collect() == []


def test_new_operators_degenerate_inputs(spark):
    """Edge behavior: single-char vocab (no BPE pairs), single doc (no
    cross-doc dup spans), sub-ksub PQ corpus — none may throw, and each
    must return the documented degenerate result."""
    import hashlib

    from flink_streaming_demo_spark.operators import similarity as SIM
    from flink_streaming_demo_spark.operators.bpe import bpe_train_merges
    from flink_streaming_demo_spark.plans.text_queries import strip_dup_spans

    # BPE: every word one char -> no adjacent pairs -> zero merges
    docs = spark.createDataFrame([("a b c a b",)], "text string")
    assert bpe_train_merges(docs, n_merges=3).collect() == []

    # span stripping: single doc -> nothing cross-doc -> untouched
    one = spark.createDataFrame(
        [(1, "x1 x2 x3 x4 x5 x6 x7 x8 x9")], "doc_id long, text string"
    )
    r = strip_dup_spans(one).collect()[0]
    assert (r.dup_token_count, r.n_spans) == (0, 0)
    assert r.kept_hash == hashlib.md5(b"x1 x2 x3 x4 x5 x6 x7 x8 x9").hexdigest()

    # span stripping: NULL text -> oracle-pinned degenerate row
    # (n_tokens NULL from len(split(NULL)), counts COALESCE to 0, hash
    # of the empty residue) — the r13 ADVICE null-branch fix.
    with_null = spark.createDataFrame(
        [(1, "x1 x2 x3 x4 x5 x6"), (2, None)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in strip_dup_spans(with_null).collect()}
    nr = rows[2]
    assert (nr.n_tokens, nr.dup_token_count, nr.n_spans) == (None, 0, 0)
    assert nr.kept_hash == hashlib.md5(b"").hexdigest()
    # and the non-null sibling is untouched by the null row
    assert rows[1].n_tokens == 6 and rows[1].dup_token_count == 0

    # PQ: corpus smaller than ksub -> codebook has |corpus| codes, still
    # encodes and ranks
    emb = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    cb = SIM.pq_train(emb, m=2, dsub=2, ksub=16, n_iterations=1)
    assert cb.count() == 6  # 2 subspaces x 3 seeded codes
    top = SIM.pq_adc_topk(
        emb.filter("vec_id = 0"), emb, cb, k=2, m=2, dsub=2
    ).collect()
    assert len(top) == 2


def test_quality_calibration_partitions_scored_corpus(spark, sf_dir):
    """The reliability diagram is a partition of the scored corpus:
    bucket doc counts sum to the corpus size, every probability-space
    cell stays in [0, 1], gap == mean_score - frac_pos, and the Brier
    contribution per bucket is bounded by the worst bucket gap
    possible (<= 1)."""
    from flink_streaming_demo_spark.plans.text_queries import (
        text_quality_calibration,
    )
    from flink_streaming_demo_spark.schemas import load_table

    rows = text_quality_calibration(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_docs"] for r in rows)
    assert total == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0 <= r["bucket"] <= 9
        assert 0.0 <= r["mean_score"] <= 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(r["gap"] - (r["mean_score"] - r["frac_pos"])) < 2e-6
        assert 0.0 <= r["brier"] <= 1.0


def test_winnow_fp_rows_equals_exploded_set_form(spark, sf_dir):
    """The vectorized Arrow row form (winnow_fp_rows, the matcher's fast
    path) must be VALUE-identical to exploding the expression-tree set
    form on the real documents table — both directions of exceptAll
    empty, so neither extra nor missing (id, fp) rows. Short docs, ties
    and repeated grams are additionally covered by the hypothesis
    brute-force property over winnow_pairs."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = TX.winnow_fp_sets(docs).select(
        F.col("doc_id"), F.explode("fps").alias("fp")
    )
    new = TX.winnow_fp_rows(docs)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_shingle_rows_equals_exploded_expression_form(spark, sf_dir):
    """The vectorized shingle row form must be VALUE-identical to
    filter(token-count gate) + explode(shingles(text)) on the real
    documents table (both exceptAll directions empty)."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.operators.dedup import (
        SHINGLE_N,
        shingle_rows,
        shingles,
        tokens,
    )
    from flink_streaming_demo_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(
        F.size(tokens(F.col("text"))) >= SHINGLE_N
    ).select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))
    new = shingle_rows(docs, "doc_id")
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_ngram_rows_equals_guarded_ngram_explode(spark, sf_dir):
    """strip_dup_spans' vectorized gram rows must be VALUE-identical to
    posexploding _guarded_ngrams (1-based starts included)."""
    from pyspark.sql import functions as F

    from flink_streaming_demo_spark.operators.dedup import _token_gram_rows
    from flink_streaming_demo_spark.plans.text_queries import (
        SPAN_N,
        _guarded_ngrams,
    )
    from flink_streaming_demo_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.select(
        "doc_id",
        F.posexplode(_guarded_ngrams(F.col("text"), SPAN_N)).alias(
            "pos0", "gram"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("s"), "gram")
    new = _token_gram_rows(docs, SPAN_N)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_winnow_fingerprint_stats_equals_expression_form(spark, sf_dir):
    """The vectorized digest form must be VALUE-identical to the
    expression-tree winnow_fingerprints on real documents AND on the
    null/sub-k edge docs (empty-array path: (0, 0, md5('')))."""
    from flink_streaming_demo_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = TX.winnow_fingerprints(docs)
    new = TX.winnow_fingerprint_stats(docs)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    edge = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, "a b c d e")],
        "doc_id long, text string",
    )
    o2, n2 = TX.winnow_fingerprints(edge), TX.winnow_fingerprint_stats(edge)
    assert o2.exceptAll(n2).count() == 0
    assert n2.exceptAll(o2).count() == 0
