"""Byte-pair-encoding subword tokenizer: distributed frequency
harvest, driver-side merge learning, distributed memoized encoding.

Replaces the regex-"BPE-ish" token counting in ``textops`` with the
real algorithm a pretraining pipeline runs before sharding: learn a
merge table from the corpus, then measure/emit true subword counts.

Scale shape (the standard recipe — HF tokenizers, SentencePiece):

- The corpus-proportional work is the WORD-FREQUENCY harvest — one
  explode + one (word) groupBy shuffle, all codegen.  BPE never
  trains on raw text; it trains on the frequency table, which is
  vocabulary-sized (~1e5-1e7 rows at 100 TB), orders of magnitude
  smaller than the corpus.
- Merge learning runs driver-side over the top-``word_cap`` rows of
  that table (deterministic: count desc, word asc).  With an
  inverted pair->words index each merge touches only the words that
  contain the merged pair, so learning is seconds, not
  merges x vocabulary.  The tail below the cap is long and carries
  little pair mass; the cap is the standard max_input-sentences-ish
  dial, logged in the merges frame for audit.
- Encoding is map-only: the merge rank table broadcasts into an
  Arrow-batched closure, each distinct word in a batch encodes once
  (memo dict) and repeated words hit the memo — per-batch cost is
  distinct-words, not tokens.

Determinism: ties in pair counts break on the lexicographically
smallest pair, so the merge sequence — and therefore every encoding —
is reproducible across runs, partitionings, and engines.

No end-of-word marker: encoding operates per pre-tokenized word (the
``TOKENS`` regex), so word boundaries are structural and subwords
never span words — concatenating a word's subwords reproduces the
word exactly (the round-trip invariant the tests and the registry
guard enforce).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import session_cache
from .relational import load
from .textops import TOKENS


def word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, wcount) over the documents corpus — the one
    corpus-proportional job in BPE training."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


def _learn_merges(freqs: list[tuple[str, int]], num_merges: int,
                  min_pair_count: int = 2) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a (word, count) list with an
    inverted pair->word index (only words containing the winning pair
    are re-segmented per round).  Pure driver-side Python on the
    bounded frequency table."""
    words: list[list[str]] = [list(w) for w, _ in freqs]
    counts = [c for _, c in freqs]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def add_word(i: int, sign: int) -> None:
        syms = words[i]
        c = counts[i] * sign
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + c
            if sign > 0:
                pair_words.setdefault(p, set()).add(i)

    for i in range(len(words)):
        add_word(i, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best: Optional[tuple[str, str]] = None
        best_count = min_pair_count - 1
        for p, c in pair_counts.items():
            if c > best_count or (c == best_count and best is not None
                                  and p < best):
                best, best_count = p, c
        if best is None:
            break
        merges.append(best)
        merged = best[0] + best[1]
        touched = list(pair_words.get(best, ()))
        for i in touched:
            syms = words[i]
            if len(syms) < 2:
                continue
            add_word(i, -1)  # retract this word's pair mass
            out: list[str] = []
            j = 0
            while j < len(syms):
                if (j + 1 < len(syms) and syms[j] == best[0]
                        and syms[j + 1] == best[1]):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            add_word(i, +1)
        # the merged pair is spent: every occurrence was rewritten
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return merges


def bpe_train(
    spark: SparkSession, sf_dir: str, num_merges: int = 256,
    word_cap: int = 32768,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge table from the corpus.  Cached per
    (session, corpus fingerprint, params) — training is index build,
    amortized across every encode that follows."""
    if num_merges < 1:
        raise ValueError(f"num_merges={num_merges} must be >= 1")
    if word_cap < 1:
        raise ValueError(f"word_cap={word_cap} must be >= 1")

    def build(_fp: str) -> list[tuple[str, str]]:
        top = (
            word_frequencies(spark, sf_dir)
            .orderBy(F.desc("wcount"), F.asc("word"))
            .limit(word_cap)
            .collect()
        )
        return _learn_merges([(r["word"], r["wcount"]) for r in top],
                             num_merges)

    return session_cache.get(spark, sf_dir, "documents",
                             ("bpe", num_merges, word_cap), build)


def bpe_merges_df(
    spark: SparkSession, sf_dir: str, num_merges: int = 256,
    word_cap: int = 32768,
) -> DataFrame:
    """The learned merge table as (rank, left, right) — the auditable
    index artifact (and the bench prebuild hook)."""
    merges = bpe_train(spark, sf_dir, num_merges, word_cap)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def _encode_fn(merges: list[tuple[str, str]]):
    """Word -> subword-list encoder closure (rank-greedy classic BPE:
    repeatedly merge the lowest-rank adjacent pair).  Self-contained
    for cloudpickle (no module-global references)."""
    ranks = {p: i for i, p in enumerate(merges)}

    def encode(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_rank = None
            for a, b in zip(syms, syms[1:]):
                r = ranks.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank = r
            if best_rank is None:
                break
            a, b = merges[best_rank]
            out = []
            j = 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        return syms

    return encode


def bpe_encode(
    docs_words: DataFrame, merges: list[tuple[str, str]],
    word_col: str = "word",
) -> DataFrame:
    """Append ``subwords array<string>`` to a frame with a word column.
    Arrow-batched, map-only; distinct words within a batch encode once
    (memo)."""
    encode = _encode_fn(merges)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs_words.schema)

    def _enc(batches):
        import pandas as _pd

        memo: dict = {}
        for pdf in batches:
            subs = []
            for w in pdf[word_col]:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = encode(w)
                subs.append(got)
            out = pdf.copy()
            out["subwords"] = subs
            yield out

    return docs_words.mapInPandas(
        _enc, f"{fields}, subwords array<string>")


def bpe_token_stats(
    spark: SparkSession, sf_dir: str, num_merges: int = 256,
    word_cap: int = 32768,
) -> DataFrame:
    """Per-document TRUE subword statistics under the corpus-trained
    BPE: ``(doc_id, n_words, n_chars_tokenized, n_subwords,
    compression)`` where ``compression = n_subwords / n_chars`` (1.0 =
    no merges applied, lower = better).  The per-word encode stream is
    aggregated back per doc — one (doc_id-carrying) explode, one
    groupBy."""
    merges = bpe_train(spark, sf_dir, num_merges, word_cap)
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.expr(TOKENS)).alias("word"))
    # Python encodes each DISTINCT word once; the token stream then
    # joins the vocabulary-sized (word, n_sub) table JVM-side — at
    # 100 TB the Arrow/Python cost is ∝ vocabulary, never ∝ tokens
    # (the same prefilter shape decontaminate uses for its gram probe)
    vocab = bpe_encode(words.select("word").distinct(), merges).select(
        "word", F.size("subwords").alias("n_sub"))
    return (
        words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars_tokenized"),
            F.sum("n_sub").alias("n_subwords"),
        )
        .withColumn(
            "compression",
            F.round(F.col("n_subwords")
                    / F.greatest(F.col("n_chars_tokenized"), F.lit(1)), 6)
            .cast("double"),
        )
    )


def bpe_roundtrip_violations(
    spark: SparkSession, sf_dir: str, num_merges: int = 256,
    word_cap: int = 32768,
) -> int:
    """Count words whose subword concatenation fails to reproduce the
    word — MUST be 0 for any merge table (merges only ever glue
    adjacent symbols).  The registry guard's falsifier."""
    merges = bpe_train(spark, sf_dir, num_merges, word_cap)
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.expr(TOKENS)).alias("word")).distinct()
    enc = bpe_encode(words, merges)
    return enc.where(
        F.concat_ws("", F.col("subwords")) != F.col("word")).count()
