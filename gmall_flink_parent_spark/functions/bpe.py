"""Byte-pair-encoding tokenizer: distributed training + Arrow encoding.

Not in the reference (SURVEY §2.7): token BUDGETS everywhere else in
this engine (packing caps, mixture budgets, piece counts) are defined
by a tokenizer, and a 100 TB pipeline trains its own. This module
implements the Sennrich et al. 2016 BPE algorithm Spark-first:

- **Training** operates on the WORD-FREQUENCY table, not the corpus:
  one distributed map-side-combined wordcount reduces 100 TB of text to
  a vocabulary-sized frame, a bounded ``TakeOrdered`` head of it (top-V
  words carry virtually all pair mass — standard practice) trains the
  merge table driver-side in pure Python, and ties in pair frequency
  break lexicographically so the merge table is deterministic for a
  given corpus — no RNG, reproducible across runs and partitionings.
- **Encoding** broadcasts the merge table and applies it per word in an
  Arrow ``mapInPandas`` pass with an LRU word cache (Zipf: a batch's
  distinct words are far fewer than its tokens) — narrow, scan-shaped,
  no shuffle.

Registered head ``doc_bpe_tokens`` is rows-only (the merge loop is
iterative/greedy — not SQL-expressible); exactness is pinned in tests
against an independent single-threaded reference implementation, plus
the classic low/lower/lowest fixture and monotonicity properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

_BPE_MERGES = 64  # merge-table size for the registered head
_BPE_TOP_WORDS = 50_000  # bounded training head of the word-freq table
_EOW = "</w>"  # end-of-word marker (merges never cross words)


def bpe_word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — the only distributed step of
    training. Map-side combine collapses repeats before the shuffle, so
    the exchange carries vocabulary-sized data regardless of corpus
    size."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train_merges(
    word_freq: list[tuple[str, int]], n_merges: int = _BPE_MERGES
) -> list[tuple[str, str]]:
    """Greedy BPE merge training over a (word, freq) list (Sennrich et
    al. 2016, driver-side on the bounded vocabulary head).

    Each word is a symbol sequence (characters + ``</w>``); every round
    merges the most frequent adjacent pair, ties broken by the pair's
    lexicographic order — fully deterministic. Stops early when no pair
    repeats."""
    vocab = {tuple(list(w) + [_EOW]): f for w, f in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, f in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:  # nothing repeats — further merges are noise
            break
        merges.append((a, b))
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def bpe_train(
    docs: DataFrame, n_merges: int = _BPE_MERGES, top_words: int = _BPE_TOP_WORDS
) -> list[tuple[str, str]]:
    """Train the merge table: distributed wordcount → bounded top-V head
    (``TakeOrderedAndProject`` — by freq desc then word, deterministic)
    → driver-side greedy merges. The collect is capped at ``top_words``
    rows whatever the corpus size."""
    head = (
        bpe_word_freq(docs)
        .orderBy(F.col("freq").desc(), "word")
        .limit(top_words)
        .collect()
    )
    return bpe_train_merges([(r["word"], r["freq"]) for r in head], n_merges)


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word in rank order (the standard algorithm:
    repeatedly merge the lowest-rank adjacent pair present)."""
    sym = list(word) + [_EOW]
    while len(sym) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(sym, sym[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, n_tokens, n_bpe_pieces) — encode every document with the
    broadcast merge table in one Arrow pass.

    Per batch, distinct words are encoded once through a dict cache
    (Zipf makes the distinct-word set a small fraction of the token
    stream) and summed per document. Narrow map: inherits scan
    partitioning, no shuffle, no JVM round trips."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode(batches):
        cache: dict[str, int] = {}

        def pieces(word: str) -> int:
            n = cache.get(word)
            if n is None:
                n = len(_encode_word(word, ranks))
                cache[word] = n
            return n

        for pdf in batches:
            n_tok, n_bpe = [], []
            for text in pdf["text"]:
                words = [w for w in text.split(" ") if w]
                n_tok.append(len(words))
                n_bpe.append(sum(pieces(w) for w in words))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": n_tok, "n_bpe_pieces": n_bpe}
            )

    return docs.select("doc_id", "text").mapInPandas(
        encode, "doc_id long, n_tokens long, n_bpe_pieces long"
    )


@register("doc_bpe_tokens", oracle=None, tags=("text", "tokenize", "bpe", "iterative", "unbenched"))
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE piece counts per document — the tokenizer-exact budget
    signal behind ``doc_text_profile``'s regex piece heuristic.

    Trains a 64-merge table on this corpus (distributed wordcount →
    bounded driver-side greedy merges, deterministic by lexicographic
    tie-break), then encodes every document in one Arrow pass with the
    merge table broadcast. Rows-only by design (greedy iterative merges
    have no SQL form); tests pin the encoder against an independent
    single-threaded reference, the classic low/lower/lowest fixture,
    and the char-count/token-count monotonicity envelope. At 100 TB the
    wordcount shuffle carries the vocabulary, the train collect is
    capped, and the encode is scan-shaped — the corpus is read twice
    (train, encode) and a saved merge table makes re-encoding one scan.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    merges = bpe_train(docs.select("text"))
    out = bpe_encode(docs, merges)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_bpe_pieces",
        F.round(F.col("n_bpe_pieces").cast("double") / F.col("n_tokens"), 6).alias(
            "pieces_per_token"
        ),
    )
