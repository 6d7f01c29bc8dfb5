"""BPE merge training: hand-verifiable semantics on a tiny corpus —
pair counting weighted by word frequency, deterministic tie-break,
GREEDY left-to-right non-overlapping merging, and the batched
symbol-disjoint selection rule."""

from __future__ import annotations

from kinesis_s3_spark.operators.bpe import train_bpe, train_bpe_batched


def test_bpe_hand_corpus(spark):
    # word freqs: "abab" x3, "ab" x2, "b" x1
    docs = spark.createDataFrame(
        [("abab abab ab",), ("abab ab b",)], "text string"
    )
    merges = train_bpe(docs, 2)
    # round 1 pairs: (a,b): 2*3 + 1*2 = 8 ; (b,a): 1*3 = 3 → merge (a,b)
    assert merges[0] == (1, "a", "b", 8)
    # after merge: "ab ab" x3, "ab" x2, "b" x1 → round 2: (ab,ab): 3
    assert merges[1] == (2, "ab", "ab", 3)


def test_bpe_greedy_nonoverlap(spark):
    # "aaa" x1: pairs (a,a): 2 occurrences but merging is greedy
    # left-to-right → "aa a"; round 2 top pair is (aa, a) with count 1
    docs = spark.createDataFrame([("aaa",)], "text string")
    merges = train_bpe(docs, 2)
    assert merges[0] == (1, "a", "a", 2)
    assert merges[1] == (2, "aa", "a", 1)


def test_bpe_batched_disjoint_selection(spark):
    # word freqs: cat x5, car x3, ate x2 → round-1 pairs ranked
    # (c,a)=8, (a,t)=7, (a,r)=3, (t,e)=2. Greedy disjoint accept with
    # cap=2: (c,a) accepted; (a,t) and (a,r) rejected ('a' used);
    # (t,e) accepted. Round 2 over "ca t"x5, "ca r"x3, "a te"x2:
    # (ca,t)=5 accepted; (ca,r) rejected; (a,te)=2 accepted.
    docs = spark.createDataFrame([("cat cat cat car ate",), ("cat cat car car ate",)], "text string")
    merges = train_bpe_batched(docs, n_rounds=2, accept_cap=2, window=4)
    assert merges == [
        (1, "c", "a", 8),
        (2, "t", "e", 2),
        (3, "ca", "t", 5),
        (4, "a", "te", 2),
    ]


def test_bpe_batched_cap1_reduces_to_sequential(spark):
    # Same corpus, accept_cap=1: classic sequential BPE picks (c,a)
    # then re-counts and picks (ca,t)=5 — NOT (t,e), the batch's
    # second accept. This is exactly the documented batch-BPE
    # divergence, and cap=1 must land on the sequential answer.
    docs = spark.createDataFrame([("cat cat cat car ate",), ("cat cat car car ate",)], "text string")
    assert train_bpe(docs, 2) == [(1, "c", "a", 8), (2, "ca", "t", 5)]


def test_bpe_batched_stops_when_no_pairs_left(spark):
    # single-symbol words after one merge → later rounds learn nothing
    docs = spark.createDataFrame([("ab ab",)], "text string")
    merges = train_bpe_batched(docs, n_rounds=5, accept_cap=4, window=8)
    assert merges == [(1, "a", "b", 2)]


def test_bpe_tiebreak_lexicographic(spark):
    # "xy" and "yz" each once: (x,y) and (y,z) both count 1 →
    # lexicographic (l, r) tie-break picks (x, y)
    docs = spark.createDataFrame([("xy yz",)], "text string")
    merges = train_bpe(docs, 1)
    assert merges[0] == (1, "x", "y", 1)


def _trigram_docs(spark, sf_dir="/root/testdata/sf0.001"):
    """High-vocabulary corpus derived from documents (word-trigram
    pseudo-words) — the 1k-merge experiment's input shape
    (SCALE.md, "BPE at a production merge budget (r6)")."""
    from pyspark.sql import functions as F

    from kinesis_s3_spark.sources.tables import load_table

    raw = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return raw.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
                lambda i: F.concat_ws(
                    "_",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
            " ",
        ).alias("text"),
    )


def test_bpe_large_budget_prefix_stable_and_vocab_grows(spark):
    """VERDICT r5 task #6 invariants at a >64-merge budget: running
    MORE rounds of the batched loop (incl. past the lineage-cut
    stride) never changes the already-accepted prefix, learns no
    duplicate merges, and grows the symbol vocabulary by exactly one
    new symbol per merge."""
    docs = _trigram_docs(spark).cache()
    small = train_bpe_batched(docs, n_rounds=4, accept_cap=16, window=64)
    big = train_bpe_batched(
        docs, n_rounds=64, accept_cap=16, window=64, target_merges=200
    )
    assert len(big) == 200
    assert big[: len(small)] == small  # prefix stability

    pairs = [(l, r) for _k, l, r, _c in big]
    assert len(set(pairs)) == len(pairs)  # no duplicate merges
    new_symbols = [l + r for l, r in pairs]
    assert len(set(new_symbols)) == len(new_symbols)  # one new symbol per merge
    docs.unpersist()


def test_bpe_more_merges_reduce_fertility(spark):
    """The reason to buy a bigger merge budget: total symbol count of
    the tokenized corpus strictly decreases as the merge table grows
    (each accepted merge had a positive pre-round pair count)."""
    from pyspark.sql import functions as F

    docs = _trigram_docs(spark).cache()

    def total_symbols(merges):
        words = docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
        ).filter(F.col("word") != "")
        seg = F.trim(F.regexp_replace("word", "(.)", "$1 "))
        for _rank, left, right, _cnt in merges:
            seg = F.replace(seg, F.lit(f"{left} {right}"), F.lit(left + right))
        return words.agg(
            F.sum(F.size(F.split(seg, " "))).cast("long").alias("n")
        ).collect()[0]["n"]

    table = train_bpe_batched(
        docs, n_rounds=64, accept_cap=16, window=64, target_merges=192
    )
    f64, f192 = total_symbols(table[:64]), total_symbols(table)
    base = total_symbols([])
    assert base > f64 > f192
    docs.unpersist()
