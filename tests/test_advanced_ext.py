"""Quality gates for advanced_ext: the PCA loop closed over the exact
covariance matrix (numpy eigendecomposition of the query result must
yield the variance-maximizing direction), LTTB structural properties,
a Python referee for the applied BPE merge, and the Observation
metrics contract."""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from guidewire_spark.operators.advanced_ext import (
    embedding_covariance_matrix,
    obs_quality_gate,
    tokenizer_bpe_apply_merge,
    ts_downsample_lttb,
)
from guidewire_spark.plans.catalog import load_table


def test_covariance_matrix_closes_pca_loop(spark, sf_dir):
    rows = embedding_covariance_matrix(spark, sf_dir).collect()
    d = 64
    C = np.zeros((d, d))
    for r in rows:
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
    # referee: covariance computed directly in numpy from the raw table
    X = np.array(
        [
            [float(v) for v in row["embedding"]]
            for row in load_table(spark, sf_dir, "embeddings").collect()
        ]
    )
    C_ref = np.cov(X, rowvar=False, bias=True)
    assert np.allclose(C, C_ref, atol=2e-4)  # 1e4 quantization + 10dp round
    # PCA closure: top eigenvector maximizes projected variance
    vals, vecs = np.linalg.eigh(C)
    top = vecs[:, -1]
    proj_var = top @ C @ top
    axis_vars = np.diag(C)
    assert proj_var >= axis_vars.max() - 1e-9
    assert abs(proj_var - vals[-1]) < 1e-9


def test_lttb_one_point_per_interior_bucket(spark, sf_dir):
    got = ts_downsample_lttb(spark, sf_dir).toPandas()
    assert got["bucket"].is_unique
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "view"
    )
    buckets = (
        e.select(
            F.floor(
                F.unix_timestamp(F.date_trunc("hour", "ts")) / 21600
            ).alias("b")
        )
        .distinct()
        .count()
    )
    # all buckets except the two edge buckets are represented
    assert len(got) == buckets - 2
    # each selected x lies inside its bucket's 6h span
    assert ((got["x"] // 21600) == got["bucket"]).all()


def test_bpe_apply_merge_matches_python(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    # referee: find top pair and apply greedy non-overlapping merge
    from collections import Counter

    counts: Counter = Counter()
    for r in docs:
        for w in r["text"].split():
            for k in range(len(w) - 1):
                counts[w[k : k + 2]] += 1
    best = max(counts.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))[0]
    got = tokenizer_bpe_apply_merge(spark, sf_dir).toPandas().set_index("doc_id")
    for r in docs[:50]:
        words = r["text"].split()
        before = sum(len(w) for w in words)
        merges = sum((len(w) - len(w.replace(best, ""))) // 2 for w in words)
        row = got.loc[r["doc_id"]]
        assert row["tokens_before"] == before
        assert row["merges"] == merges
        assert row["tokens_after"] == before - merges


def test_observation_metrics_ride_the_same_job(spark, sf_dir):
    df = obs_quality_gate(spark, sf_dir)
    kept = df.count()  # the action that materializes the metrics
    obs = df._quality_observation
    metrics = obs.get
    total = load_table(spark, sf_dir, "documents").count()
    assert metrics["n_total"] == total
    assert metrics["n_dropped"] == total - kept
    assert metrics["dropped_chars"] >= 0


def _reference_bpe_merges(texts: list[str]) -> list[tuple]:
    """Pure-Python reference BPE (Sennrich-style: word-frequency vocab,
    argmax by (freq, pair) with lexicographic tie-break, greedy
    left-to-right application), written independently of the trainer."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.findall(r"\S+", t):  # mirrors T.words
            words[w] += 1
    vocab = {tuple(w): n for w, n in words.items()}
    expected = []
    for rnd in range(8):
        pair_counts = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += n
        if not pair_counts:
            break
        (l, r), freq = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if freq < 2:
            break
        expected.append((rnd, l, r, l + r, freq))
        merged_vocab = {}
        for syms, n in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            merged_vocab[tuple(out)] = merged_vocab.get(tuple(out), 0) + n
        vocab = merged_vocab
    return expected


# Small corpora, each written as its own documents.parquet, with the
# (left, right) merge order each one must produce.  None = the sf_dir
# test corpus, which sustains all 8 rounds.
_BPE_CORPORA = {
    "sf_dir": (None, None),
    # every pair has freq 2: ties break on the left symbol, then the
    # right one
    "ties": (["zy xb xa", "xa xb zy"], [("x", "a"), ("x", "b"), ("z", "y")]),
    # greedy and non-overlapping: aaaa -> aa aa (3 pairs counted,
    # 2 merged), then aa aa -> aaaa
    "overlap": (["aaaa aaaa", "aaaa"], [("a", "a"), ("aa", "aa")]),
    # the third round's best pair has freq 1: fewer than 8 merges
    "early_stop": (["abc abc def"], [("a", "b"), ("ab", "c")]),
    # U+FF5A sorts before U+1D538 by code point and by UTF-8 bytes, but
    # after it in UTF-16: a code-unit comparison would flip rounds 1-2
    "non_ascii": (
        ["日本 é\U0001d538 éｚ", "日本 日本 é\U0001d538 éｚ"],
        [("日", "本"), ("é", "ｚ"), ("é", "\U0001d538")],
    ),
    "empty": ([], []),
}


@pytest.mark.parametrize("corpus", list(_BPE_CORPORA))
def test_bpe_train_matches_reference(spark, sf_dir, tmp_path, corpus):
    """vocab_bpe_train_merges must reproduce EXACTLY the merge list the
    pure-Python reference BPE learns on the same corpus, in at most 3
    Spark jobs (one vocabulary aggregation; the rounds run on the
    driver)."""
    from guidewire_spark.operators.advanced_ext import (
        _train_bpe_merges_uncached,
        vocab_bpe_encode_corpus,
        vocab_bpe_train_merges,
    )

    texts, pairs = _BPE_CORPORA[corpus]
    if texts is None:
        d = sf_dir
        texts = [
            r.text
            for r in load_table(spark, d, "documents").select("text").collect()
        ]
    else:
        d = str(tmp_path)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                }
            ),
            f"{d}/documents.parquet",
        )
    expected = _reference_bpe_merges(texts)
    if pairs is not None:
        assert [(l, r) for _, l, r, _, _ in expected] == pairs

    sc = spark.sparkContext
    group = f"test-bpe-train-{corpus}"
    sc.setJobGroup(group, group)
    try:
        trained, encoded = _train_bpe_merges_uncached(spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    # one encoded row per distinct word
    words = sorted(w for w, _, _ in encoded)
    assert words == sorted({w for t in texts for w in re.findall(r"\S+", t)})

    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.freq)
        for r in vocab_bpe_train_merges(spark, d).collect()
    ]
    assert got == trained == expected
    if corpus == "sf_dir":
        assert len(got) == 8  # this corpus sustains all 8 rounds
    if corpus == "early_stop":
        with pytest.raises(ValueError, match="early-stopped at 2 merges"):
            vocab_bpe_encode_corpus(spark, d)


# Sustains all 8 merges at freq >= 2.  Words repeat within one
# document and across documents, and the texts carry leading, trailing
# and repeated whitespace: a per-word lookup must count occurrences.
_BPE_ENCODE_TEXTS = [
    "  banana bandana banana\tcabana  ",
    "ananas   banana\nbandana",
    "cabana cabana ananas banana ",
]


def test_bpe_encode_matches_reference(spark, sf_dir, tmp_path):
    """vocab_bpe_encode_corpus must report EXACTLY the per-doc token
    counts the pure-Python encoder produces when applying the same
    learned merges in order, on the sf_dir corpus and on a small
    corpus of repeated words."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(_BPE_ENCODE_TEXTS)), pa.int64()),
                "text": pa.array(_BPE_ENCODE_TEXTS, pa.string()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    for d in (sf_dir, str(tmp_path)):
        _assert_encode_matches_reference(spark, d)


def _assert_encode_matches_reference(spark, d):
    from guidewire_spark.operators.advanced_ext import (
        vocab_bpe_encode_corpus,
        vocab_bpe_train_merges,
    )

    merges = [
        (r.left, r.right, r.merged)
        for r in vocab_bpe_train_merges(spark, d).orderBy("merge_rank").collect()
    ]
    assert len(merges) == 8

    def encode(word):
        syms = list(word)
        for l, r, m in merges:
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = m
                else:
                    out.append(x)
            syms = out
        return syms

    docs = load_table(spark, d, "documents").select("doc_id", "text").collect()
    expected = {}
    for row in docs:
        chars = toks = 0
        for w in re.findall(r"\S+", row.text):
            chars += len(w)
            toks += len(encode(w))
        expected[row.doc_id] = (chars, toks)
    got = {
        r.doc_id: (r.tokens_char, r.tokens_bpe)
        for r in vocab_bpe_encode_corpus(spark, d).collect()
    }
    assert got == expected
    # BPE must actually compress: every document shrinks
    assert all(t < c for c, t in got.values())


def test_bpe_encode_fails_on_a_word_missing_from_the_vocabulary(
    spark, sf_dir, monkeypatch
):
    """The encode looks each word up in the trained vocabulary; a word
    the table lacks fails the query by name, never drops out of the
    token counts."""
    from guidewire_spark.operators import advanced_ext

    merges, encoded = advanced_ext._train_bpe_merges(spark, sf_dir)
    monkeypatch.setattr(
        advanced_ext, "_train_bpe_merges", lambda *_: (merges, encoded[1:])
    )
    with pytest.raises(Exception, match="missing from the trained BPE vocabulary"):
        advanced_ext.vocab_bpe_encode_corpus(spark, sf_dir).collect()
