"""Distributed BPE training (functions/bpe.py::train_bpe_merges) must be
bit-identical to the sequential reference trainer
(tools/gen_bpe_merges.py::train) — same pair counts, same
deterministic tie-break, same stopping rule — because the learned
merge table is a pinned resource contract: a trainer that disagrees in
ANY rank produces a different tokenizer forever after.

Also pins the JVM merge-application fold (`_merge_fold_expr`) against
the Python `merge_fold` on the adversarial shapes (self-pairs,
cascades, interleavings) where greedy-non-overlapping semantics can
silently diverge."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.functions.bpe import (
    _merge_fold_expr,
    _select_batch,
    load_merges,
    merge_fold,
    train_bpe_merges,
)
from tools.gen_bpe_merges import train as seq_train

CORPUS = [
    "the cat sat on the mat the cat sat",
    "a banana and a bandana in the cabana",
    "zz zz zz zzz aaa aaa aa",
    "x single letters y z stay put",
]


def _word_freq(rows):
    return dict(Counter(w for t in rows for w in t.split(" ") if w))


def test_distributed_trainer_equals_sequential_reference(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    dist = train_bpe_merges(df, "text", n_merges=24, min_count=2, checkpoint_every=3)
    ref = seq_train(_word_freq(CORPUS), 24)
    assert dist == ref
    assert len(dist) > 5  # the corpus genuinely trains something


def test_distributed_trainer_reproduces_frozen_resource_prefix(spark):
    """The shipped resources/bpe_merges.parquet was built by the
    sequential trainer on sf0.001; the distributed trainer must walk
    the exact same rank order (prefix check — the full 89-merge
    reproduction is the SCALING.md r12 record, run once standalone)."""
    from time_series_loader_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    dist = train_bpe_merges(docs, "text", n_merges=12, min_count=2)
    frozen = list(load_merges())
    assert dist == frozen[:12]


@pytest.mark.parametrize(
    "seq,pair",
    [
        (["a", "a", "a"], ("a", "a")),  # odd self-run: non-overlap
        (["a", "a", "a", "a"], ("a", "a")),  # even self-run
        (["a", "b", "a", "b"], ("a", "b")),  # interleaved
        (["a", "a", "b"], ("a", "b")),  # merge at tail after near-miss
        (["b", "a", "b", "b"], ("b", "b")),  # pair appearing late
        (["x"], ("a", "b")),  # single token untouched
        (["aa", "a", "a"], ("a", "a")),  # token textually equal to a+b
    ],
)
def test_jvm_fold_matches_python_merge_fold(spark, seq, pair):
    df = spark.createDataFrame([(seq,)], "seq array<string>")
    got = df.select(_merge_fold_expr(F.col("seq"), *pair).alias("m")).collect()[0]["m"]
    assert list(got) == merge_fold(list(seq), *pair)


def test_min_count_stopping_and_cap(spark):
    # every word unique once -> all pair counts are 1 -> nothing merges
    df = spark.createDataFrame([("abc def ghi",)], "text string")
    assert train_bpe_merges(df, "text", n_merges=10, min_count=2) == []
    # cap respected
    df2 = spark.createDataFrame([("aaaa aaaa aaaa",)], "text string")
    out = train_bpe_merges(df2, "text", n_merges=2, min_count=2)
    assert len(out) == 2 and out == seq_train(_word_freq(["aaaa aaaa aaaa"]), 2)


def test_state_dir_resume_is_bit_identical(spark, tmp_path):
    """r13 restartable training: a fit persisted mid-run and resumed by
    a fresh call must yield exactly the uninterrupted fit's merges
    (prefix-stability of BPE), and a satisfied state short-circuits."""
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    straight = train_bpe_merges(df, "text", n_merges=20, min_count=2)
    assert len(straight) == 13  # this corpus saturates at 13 (min_count stop)

    state = str(tmp_path / "bpe_state")
    first = train_bpe_merges(
        df, "text", n_merges=8, min_count=2,
        checkpoint_every=3, state_dir=state, persist_every=4,
    )
    assert first == straight[:8]
    import os

    gens = [d for d in os.listdir(state) if d.startswith("upto=")]
    assert gens == ["upto=8"]  # completion persist, older gens swept
    assert os.path.exists(os.path.join(state, "upto=8", "_TSL_COMPLETE"))

    # resume to 20 — the corpus argument is only needed for a cold
    # start; the persisted vocab is the state
    resumed = train_bpe_merges(
        df, "text", n_merges=20, min_count=2, state_dir=state,
    )
    assert resumed == straight
    # satisfied state: returns the stored prefix without training
    assert train_bpe_merges(df, "text", n_merges=5, min_count=2, state_dir=state) == straight[:5]


def test_state_dir_ignores_unmarked_generation(spark, tmp_path):
    """A generation without the driver's completion marker (crash
    mid-persist) must be invisible — the fit restarts cleanly."""
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    state = str(tmp_path / "bpe_state")
    train_bpe_merges(
        df, "text", n_merges=6, min_count=2, state_dir=state
    )
    import os

    os.remove(os.path.join(state, "upto=6", "_TSL_COMPLETE"))
    out = train_bpe_merges(df, "text", n_merges=6, min_count=2, state_dir=state)
    assert out == train_bpe_merges(df, "text", n_merges=6, min_count=2)


def _row(a, b, cnt):
    return {"a": a, "b": b, "cnt": cnt}


def test_select_batch_created_pair_tie_guard():
    """The case that breaks NAIVE token-disjoint batching: merging
    ("a","z") creates token "az", and the created pair ("az","y") —
    count bounded by the pre-existing ("z","y") — TIES the disjoint
    candidate ("m","m") at 5 and beats it lexicographically ("az" <
    "m"), so the sequential trainer's second merge is ("az","y"), not
    ("m","m"). The created-pair upper bound (Rmax("z") = 5) must close
    the batch at width 1."""
    top = [_row("a", "z", 10), _row("m", "m", 5), _row("z", "y", 5)]
    assert _select_batch(top, False, 2, 16) == [("a", "z")]


def test_select_batch_widens_on_clean_separation():
    """Token-disjoint pairs with strictly separated counts and no
    left/right neighbors batch fully — no pair any of these merges
    creates can reach the next member's count."""
    top = [
        _row("a", "b", 100),
        _row("c", "d", 50),
        _row("e", "f", 25),
        _row("g", "h", 12),
    ]
    assert _select_batch(top, False, 2, 16) == [
        ("a", "b"), ("c", "d"), ("e", "f"), ("g", "h"),
    ]
    # width cap and the truncation floor both close the batch: with
    # truncated=True every member must clear top[-1].cnt = 12, so
    # ("g","h") itself is out (cnt 12 <= floor 12 via the e/f bound...
    # the floor enters through lmax/rmax estimates of EARLIER picks)
    assert _select_batch(top, False, 2, 2) == [("a", "b"), ("c", "d")]
    assert _select_batch(top, True, 2, 16) == [
        ("a", "b"), ("c", "d"), ("e", "f"),
    ]


def test_select_batch_token_conflict_closes_prefix():
    # shared token ("b" reused as a left token) closes the batch even
    # at separated counts — count invariance is not provable
    top = [_row("a", "b", 100), _row("b", "c", 50)]
    assert _select_batch(top, False, 2, 16) == [("a", "b")]
    # the MERGED STRING is a token conflict too: "ab" as a member token
    top = [_row("a", "b", 100), _row("ab", "c", 50)]
    assert _select_batch(top, False, 2, 16) == [("a", "b")]
    # below-min_count candidate closes the batch (training stop is the
    # next iteration's argmax decision, not the selector's)
    top = [_row("a", "b", 100), _row("c", "d", 1)]
    assert _select_batch(top, False, 2, 16) == [("a", "b")]


def test_trainer_batched_is_bit_identical_on_created_pair_corpus(spark):
    """End-to-end pin of the `_select_batch` tie guard: on the corpus
    realizing the created-pair counterexample, the batched trainer must
    walk ("a","z") -> ("az","y") exactly like the sequential reference
    (naive disjoint batching would emit ("m","m") second)."""
    text = " ".join(["azy"] * 5 + ["az"] * 5 + ["mm"] * 5)
    df = spark.createDataFrame([(text,)], "text string")
    dist = train_bpe_merges(df, "text", n_merges=6, min_count=2)
    assert dist == seq_train(_word_freq([text]), 6)
    assert dist[:2] == [("a", "z"), ("az", "y")]


def test_trainer_batches_do_fire_and_amortize(spark):
    """On a cleanly separated corpus the batch width must exceed 1
    (the whole point of r14 directive #1) while the learned table stays
    the sequential reference's."""
    text = " ".join(
        ["ab"] * 100 + ["cd"] * 50 + ["ef"] * 25 + ["gh"] * 12
    )
    df = spark.createDataFrame([(text,)], "text string")
    stats: list[dict] = []
    dist = train_bpe_merges(df, "text", n_merges=4, min_count=2, stats=stats)
    assert dist == seq_train(_word_freq([text]), 4)
    assert max(s["batch_w"] for s in stats) == 4  # one iteration, four merges
    assert [s["rank"] for s in stats] == [0, 1, 2, 3]


def test_trainer_max_batch_1_restores_sequential_loop(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    stats: list[dict] = []
    out = train_bpe_merges(
        df, "text", n_merges=8, min_count=2, stats=stats, max_batch=1
    )
    assert out == seq_train(_word_freq(CORPUS), 8)
    assert all(s["batch_w"] == 1 for s in stats)


def test_trainer_randomized_dense_tie_corpora(spark):
    """Randomized differential: on dense-tie corpora (two-letter
    alphabet -> many equal pair counts, the deterministic tie-break's
    worst case, plus self-pair cascades), the distributed incremental
    trainer equals the sequential reference exactly. Seeded random
    (not hypothesis: a Spark fit inside a hypothesis example trips the
    py4j recursion-limit warning under the suite's warnings-as-errors
    policy); 5 trials, each a real fit with mid-cadence checkpoints."""
    import random

    rng = random.Random(13)
    for _trial in range(5):
        texts = [
            " ".join(
                "".join(rng.choice("ab") for _ in range(rng.randint(1, 5)))
                for _ in range(rng.randint(3, 10))
            )
            for _ in range(rng.randint(2, 5))
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        dist = train_bpe_merges(
            df, "text", n_merges=6, min_count=2, checkpoint_every=2
        )
        assert dist == seq_train(_word_freq(texts), 6), texts


def test_reissued_lazy_checkpoint_raises_without_leaking(spark):
    """A lazy key re-issued before settle() is refused BEFORE anything is
    checkpointed: the failing call leaves no untracked persisted RDD."""
    from time_series_loader_spark.functions.bpe import _CkptTracker

    tracker = _CkptTracker(spark)
    df = spark.range(10)
    first = tracker.checkpoint(df, "k", eager=False)
    first.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="re-issued before settle"):
        tracker.checkpoint(df, "k", eager=False)
    assert jsc.getPersistentRDDs().size() == before
    tracker.release_prefix("k")
