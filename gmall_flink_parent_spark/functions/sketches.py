"""Count-min sketch over the word-4-gram space: bounded-size counters
for an UNBOUNDED key domain.

Not in the reference (its aggregations are keyed by small dimensions,
SURVEY §2.6): the third member of the engine's mergeable-sketch family
— HLL bounds distinct-counting state (``approx_dau_by_day``), GK
bounds quantile state (``doc_length_quantiles_approx``), and the CMS
here bounds FREQUENCY counting when the key space is unbounded. Token
vocabularies are small enough to count exactly (``vocab_top_tokens``'s
map-side-combined wordcount shuffles ~|vocab| rows — fine), but the
4-gram space grows with the corpus: the exact gram-df aggregate behind
``doc_boilerplate_fraction`` shuffles one row per DISTINCT GRAM, which
at 100 TB of web text is billions of keys. The CMS replaces that with
``d × w`` integer counters: every partition's partial aggregate is at
most d·w rows no matter how many grams it saw, the shuffle carries
≤ #partitions · d · w rows TOTAL, and merged counters answer
frequency queries with one-sided error (estimate ≥ truth, over by at
most εN with probability 1−δ; Cormode & Muthukrishnan 2005).

Everything is md5-derived and integer, so DuckDB reproduces the
counters AND the estimates bit-for-bit — the sketch is oracle-backed,
not rows-only: determinism of the sketch CONTENT is part of the
contract (a re-run or a re-partitioning lands the identical sketch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.curation import _CONTAM_N, contamination_shingles
from gmall_flink_parent_spark.functions.selection import _H32_DUCK, _h32
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

_CMS_D = 4  # hash rows
_CMS_W = 512  # counters per row
_CMS_PROBE_MOD = 97  # probe grams come from docs with doc_id % 97 == 0


def cms_counters(sh: DataFrame) -> DataFrame:
    """(i, cell, n) count-min counters over a (doc_id, g) frame.

    Each gram instance increments one cell per hash row; the groupBy
    (i, cell) is map-side combined, so a partition contributes at most
    ``d·w`` partial rows REGARDLESS of how many grams it scanned —
    that bound, not the gram count, sizes the shuffle. Cell hashes are
    ``hash32('cms<i>:' || g) % w`` (the engine-portable md5 primitive),
    making the merged counter table deterministic at any parallelism.
    """
    inst = sh.select(
        "g", F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("i")
    )
    cell = (
        _h32(F.concat(F.lit("cms"), F.col("i").cast("string"), F.lit(":"), F.col("g")))
        % _CMS_W
    )
    return inst.groupBy("i", cell.alias("cell")).agg(
        F.count(F.lit(1)).alias("n")
    )


GRAM_CMS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN n >= {_CONTAM_N} THEN list_transform(
            range(1, n - {_CONTAM_N - 2}),
            i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2], toks[i + 3]))
        ELSE [] END)) AS g
    FROM t
), inst AS (
    SELECT g, CAST(t2.i AS BIGINT) AS i FROM sh, unnest(range({_CMS_D})) AS t2(i)
), counters AS (
    SELECT i,
           {_H32_DUCK.format(x="concat('cms', CAST(i AS VARCHAR), ':', g)")} % {_CMS_W}
               AS cell,
           COUNT(*) AS n
    FROM inst GROUP BY 1, 2
), probe AS (
    SELECT DISTINCT g FROM sh WHERE doc_id % {_CMS_PROBE_MOD} = 0
), est AS (
    SELECT p.g, MIN(c.n) AS cms_df
    FROM probe p
    JOIN counters c
      ON c.cell = {_H32_DUCK.format(x="concat('cms', CAST(c.i AS VARCHAR), ':', p.g)")}
               % {_CMS_W}
    GROUP BY p.g
)
SELECT g, CAST(cms_df AS BIGINT) AS cms_df FROM est
"""


@register(
    "gram_df_cms_estimate",
    oracle=GRAM_CMS_ORACLE,
    tags=("text", "sketch", "approx"),
)
def gram_df_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch document-frequency estimates for a probe set of
    grams — the 100 TB form of the exact gram-df aggregate behind
    ``doc_boilerplate_fraction``.

    Build: one scan → doc-local distinct grams → d hash rows per
    instance → map-side-combined (i, cell) counters, shuffle bounded
    by ``#partitions · d · w`` rows (never by the gram count). Query:
    the probe grams (here the deterministic ``doc_id % 97 == 0``
    slice's grams, standing in for whatever gram set a curation run
    interrogates) join the ≤ d·w-row counter table per hash row and
    take the row-wise MIN — the CMS estimate, ≥ the true df always and
    within εN with probability 1−δ (ε = e/w, δ = e^−d). Counters and
    estimates are md5-derived integers, so the sketch is HASH-CHECKED
    against DuckDB — re-runs and re-partitionings land the identical
    sketch, which is what makes an approximate answer auditable. The
    one-sided-error invariant (estimate ≥ exact df for every probe
    gram) is pinned in ``tests/test_operators.py``.
    """
    # contamination_shingles is already distinct-per-doc (the _ngrams
    # core array_distincts DOC-LOCALLY — df semantics cost zero shuffle)
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = contamination_shingles(docs)
    counters = cms_counters(sh)
    probe = (
        sh.filter(F.col("doc_id") % _CMS_PROBE_MOD == 0).select("g").distinct()
    )
    # each probe gram pre-computes its d (i, cell) lookup keys so the
    # counter lookup is a plain broadcast EQUI-join on (i, cell) — not
    # a nested-loop over the counter table
    probe_cells = probe.select(
        "g",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            _h32(F.concat(F.lit(f"cms{i}:"), F.col("g")))
                            % _CMS_W
                        ).alias("cell"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("g", F.col("p.i").alias("i"), F.col("p.cell").alias("cell"))
    joined = probe_cells.join(F.broadcast(counters), ["i", "cell"])
    return joined.groupBy("g").agg(F.min("n").cast("long").alias("cms_df"))


# ---------------------------------------------------------------- bloom

_BLOOM_K = 4  # hash functions per key
_BLOOM_M = 131072  # bits (2^17)
_BLOOM_BENCH_MOD = 97  # benchmark set = docs with doc_id % 97 == 0


def _bloom_bit(j: int, g) -> "F.Column":
    return _h32(F.concat(F.lit(f"bloom{j}:"), g)) % _BLOOM_M


def bloom_bits(keys: DataFrame) -> DataFrame:
    """Set-bit positions of a Bloom filter over a 1-column (g) key frame.

    The sketch IS this frame: ≤ min(k·n, m) distinct ``bit`` rows,
    bounded by the CONSTANT ``m`` no matter how many keys went in.
    Bits are ``hash32('bloom<j>:' || g) % m`` over the engine-portable
    md5 primitive, so the sketch content is deterministic at any
    parallelism and DuckDB replays it bit-for-bit. Union-mergeable by
    construction: ``bits(A ∪ B) = bits(A) ∪ bits(B)`` (a distinct-union
    of set positions), pinned by the any-split property test.
    """
    inst = keys.select(
        F.explode(
            F.array(*[_bloom_bit(j, F.col("g")) for j in range(_BLOOM_K)])
        ).alias("bit")
    )
    return inst.distinct()


def bloom_member_hits(probe: DataFrame, bits: DataFrame) -> DataFrame:
    """Rows of ``probe`` (any schema + a ``g`` column) whose ``g`` is a
    Bloom member — all k bits set.

    Each probe row explodes to its k (with multiplicity) bit positions
    and equi-joins the **broadcast** bit set; a row survives iff every
    one of its k exploded rows found its bit, i.e. ``count(*) = k``
    after the join (a j-collision duplicates a MATCHING bit, so the
    count still reaches k only when all distinct bits are set). No
    nested loop, no corpus-side shuffle beyond the per-(row, g) count.
    """
    cols = probe.columns
    exploded = probe.select(
        *cols,
        F.explode(
            F.array(*[_bloom_bit(j, F.col("g")) for j in range(_BLOOM_K)])
        ).alias("bit"),
    )
    return (
        exploded.join(F.broadcast(bits), "bit")
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == _BLOOM_K)
        .drop("_hits")
    )


_BLOOM_BIT_DUCK = (
    _H32_DUCK.format(x="concat('bloom', CAST(j AS VARCHAR), ':', g)")
    + f" % {_BLOOM_M}"
)

CONTAMINATION_BLOOM_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN n >= {_CONTAM_N} THEN list_transform(
            range(1, n - {_CONTAM_N - 2}),
            i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2], toks[i + 3]))
        ELSE [] END)) AS g
    FROM t
), bench AS (
    SELECT DISTINCT g FROM sh WHERE doc_id % {_BLOOM_BENCH_MOD} = 0
), bits AS (
    SELECT DISTINCT {_BLOOM_BIT_DUCK} AS bit
    FROM bench, unnest(range({_BLOOM_K})) AS tj(j)
), probe AS (
    SELECT s.doc_id, s.g, {_BLOOM_BIT_DUCK} AS bit
    FROM sh s, unnest(range({_BLOOM_K})) AS tj(j)
    WHERE s.doc_id % {_BLOOM_BENCH_MOD} <> 0
), hits AS (
    SELECT doc_id, g
    FROM probe JOIN bits USING (bit)
    GROUP BY doc_id, g
    HAVING count(*) = {_BLOOM_K}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_ngrams
FROM hits GROUP BY doc_id
"""


@register(
    "contamination_bloom",
    oracle=CONTAMINATION_BLOOM_ORACLE,
    tags=("text", "decontam", "sketch", "approx"),
    # rotated INTO the window in round 9 (swap: vocab_top_tokens out);
    # rotated out in round 12 (long-green r9–r11; contamination_4gram
    # keeps the decontamination family in-window)
    past_window=True,
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB form of
    ``contamination_4gram`` for LARGE held-out corpora.

    The exact query broadcasts the benchmark's distinct gram set, which
    is fine for MMLU-sized benchmarks but unbounded when the held-out
    side is itself a corpus (cross-dataset leakage checks, a full
    validation split): the fourth member of the mergeable-sketch family
    (HLL distincts, GK quantiles, CMS frequencies) bounds that broadcast
    at ``m`` BITS regardless of benchmark size. Build: k md5 hashes per
    benchmark gram → distinct set-bit positions (≤ min(k·n, m) rows,
    union-mergeable so per-split benchmark sketches combine by distinct
    union). Query: each training-doc gram probes its k bits through one
    broadcast equi-join and survives iff all k are set, then one per-doc
    agg — the corpus side never shuffles its grams. Error is one-sided
    in the SAFE direction: a Bloom hit can be a false positive (a clean
    doc over-flagged, rate (1−e^{{−kn/m}})^k ≈ 0.5% here) but a real
    contaminated gram is NEVER missed, so nothing leaks; the superset
    contract vs the exact query and the FP-rate ceiling are pinned in
    ``tests/test_operators.py``. Sketch content is md5-derived, so the
    flagged set is HASH-CHECKED against DuckDB, not rows-only.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    sh = contamination_shingles(docs)
    bench = (
        sh.filter(F.col("doc_id") % _BLOOM_BENCH_MOD == 0).select("g").distinct()
    )
    bits = bloom_bits(bench)
    train = sh.filter(F.col("doc_id") % _BLOOM_BENCH_MOD != 0)
    flagged = bloom_member_hits(train, bits)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_ngrams")
    )


# ------------------------------------------------- exact heavy hitters
#
# Fifth member of the mergeable-summary family: HLL bounds distinct
# state, GK bounds quantile state, CMS bounds frequency-QUERY state,
# the Bloom filter bounds membership state — and the Misra-Gries
# summary below bounds frequency-DISCOVERY state (top-k over an
# unbounded key domain). Unlike the other four it feeds an operator
# whose FINAL answer is exact, not approximate: candidates come from
# the bounded sketch, counts come from an exact recount, and a
# provable containment check (Misra & Gries 1982; merge bound from
# Agarwal et al., "Mergeable Summaries", PODS 2012) decides whether
# the cheap path's answer can be served at all.

_HH_K = 20  # top-k phrases reported
_HH_M = 512  # Misra-Gries counters kept per partition

PHRASE_HH_ORACLE = f"""
WITH toks AS (
    SELECT string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
grams AS (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> array_to_string(t[i:i+1], ' '))) AS gram
    FROM toks
)
SELECT gram, n_occurrences, rnk
FROM (
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
           row_number() OVER (ORDER BY count(*) DESC, gram) AS rnk
    FROM grams GROUP BY gram
)
WHERE rnk <= {_HH_K}
"""


def bigram_stream(docs: DataFrame) -> DataFrame:
    """One ``gram`` row per word bigram — tokens staged through a
    column first so Catalyst evaluates the split once per document,
    not once per gram (the ``spans.py`` lesson)."""
    d = (
        docs.select(F.split("text", " ").alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 2)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.col("n") - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
    )
    return d.select(F.explode(grams).alias("gram"))


def mg_partition_summaries(grams: DataFrame, m: int) -> DataFrame:
    """Per-partition Misra-Gries summaries over a ``gram`` column.

    One Arrow pass per partition holding at most ``m`` counters: each
    batch's exact counts merge into the running summary; when it
    exceeds ``m`` entries, the (m+1)-th largest count is subtracted
    from every entry and non-positive entries drop (the PODS'12 merge
    step). Output rows: the surviving grams (``cut = 0``) plus ONE
    meta row per partition (``gram IS NULL``) carrying the partition's
    total subtracted mass — the ACTUAL error bound, far tighter than
    the worst-case N/(m+1), which the caller sums into Δ for the
    exactness proof. Output size ≤ (m + 1) rows per partition no
    matter how many distinct grams the partition saw.
    """

    def mg(batches):
        import pandas as pd

        acc = None
        cut_total = 0
        for pdf in batches:
            vc = pdf["gram"].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > m:
                cut = int(acc.nlargest(m + 1).iloc[-1])
                acc = acc[acc > cut] - cut
                cut_total += cut
        survivors = [] if acc is None else list(acc.index)
        yield pd.DataFrame(
            {"gram": survivors + [None], "cut": [0] * len(survivors) + [cut_total]}
        )

    return grams.mapInPandas(mg, schema="gram string, cut long")


def phrase_topk(
    spark: SparkSession, grams: DataFrame, k: int = _HH_K, m: int = _HH_M
) -> tuple[DataFrame, bool]:
    """Exact top-k grams by count, (result, used_sketch_path).

    Two-pass shape: (1) the Misra-Gries pass reduces each partition to
    ≤ m+1 rows — the full gram space NEVER shuffles; (2) the candidate
    union (≤ partitions · m rows — bounded, broadcastable at any
    corpus size) recounts exactly through a broadcast semi-join, so
    the second shuffle carries only candidate grams. The answer is
    served from the sketch path iff it is PROVABLY exact: every
    non-candidate's global count is ≤ Δ (the summed per-partition
    subtracted mass), so ``k-th recounted count > Δ`` ⇒ no non-candidate
    can reach the top k. Otherwise fall back to the exact full
    wordcount top-k (the ``vocab_top_tokens`` shape) — heavier (the
    whole gram vocabulary shuffles, map-side combined) but always
    available. Either branch returns the identical exact answer; the
    sketch path merely avoids the unbounded shuffle when the corpus
    has real heavy hitters (web boilerplate always does).

    Both collects are bounded: Δ is a scalar, the candidate top-k is k
    rows. UTF-8 byte order == code-point order, so the Python-side
    tie-break matches both engines' binary collation.
    """
    summaries = scoped_persist(mg_partition_summaries(grams, m))
    delta = (
        summaries.filter(F.col("gram").isNull()).agg(F.sum("cut")).collect()[0][0]
        or 0
    )
    candidates = summaries.filter(F.col("gram").isNotNull()).select("gram").distinct()
    top = (
        grams.join(F.broadcast(candidates), "gram")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(k)
        .collect()
    )
    used_sketch = len(top) == k and min(r.n_occurrences for r in top) > delta
    if not used_sketch:
        top = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("gram"))
            .limit(k)
            .collect()
        )
    rows = sorted(top, key=lambda r: (-r.n_occurrences, r.gram))
    out = [(r.gram, r.n_occurrences, i + 1) for i, r in enumerate(rows)]
    return (
        spark.createDataFrame(out, schema="gram string, n_occurrences long, rnk int"),
        used_sketch,
    )


@register(
    "phrase_heavy_hitters",
    oracle=PHRASE_HH_ORACLE,
    tags=("sketch", "heavy-hitters"),
    past_window=True,
)
def phrase_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 word bigrams via bounded Misra-Gries candidate
    discovery + exact recount, with a provable-containment check and
    an exact wordcount fallback. ``vocab_top_tokens`` counts the
    (bounded) unigram vocabulary exactly; this head is the shape for
    PHRASE domains, where the distinct-key space grows with the corpus
    and the full wordcount shuffle is the thing to avoid."""
    docs = load_table(spark, sf_dir, "documents")
    df, _ = phrase_topk(spark, bigram_stream(docs))
    return df
