"""Dimension stewardship: blocked fuzzy entity resolution and SCD
type-2 history.

The reference maintains dims by primary-key upsert only
(``TableProcessFunction.java:100-114`` routes rows; Phoenix upserts by
rowkey) — it has no answer for "these two dim rows are the same
real-world entity spelled differently" or "what did this dim row look
like last Tuesday". Both are table-stakes dim operations in a
warehouse; both are expressed here as declarative plans with the
blocking/window shapes that survive scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

_FUZZY_D = 2  # max edit distance reported

FUZZY_ORACLE = f"""
WITH names AS (
    SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts FROM part GROUP BY p_name
),
keys AS (
    SELECT p_name, n_parts,
           unnest(list_distinct(list_append(string_split(p_name, ' '),
                                            substr(p_name, 1, 3)))) AS bk
    FROM names
),
cand AS (
    SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM keys a JOIN keys b ON a.bk = b.bk AND a.p_name < b.p_name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
       n_parts_a, n_parts_b
FROM cand WHERE levenshtein(name_a, name_b) <= {_FUZZY_D}
"""


def fuzzy_name_pairs(names: DataFrame, max_dist: int = _FUZZY_D) -> DataFrame:
    """Blocked fuzzy pairs over a (p_name, n_parts) name-grain frame.

    The all-pairs edit-distance join is quadratic in ENTITIES; this is
    the standard blocking cascade that keeps it linear-ish:

    1. **Dedupe to name grain first.** The verify cost is per DISTINCT
       name pair; multiplicity travels as ``n_parts`` and rejoins by
       equi-key afterwards. For catalog-style dims the name vocabulary
       is orders of magnitude below the entity count.
    2. **Multi-key blocking.** Each name emits one row per blocking
       key: every word token plus the 3-char name prefix. Two names
       are candidates iff they share a key — an EQUI-join, so Catalyst
       shuffles on the key instead of nested-looping. Recall is
       PROVABLY complete for a single IN-TOKEN edit (it touches one
       token; every other token still matches exactly — pinned by a
       property test; the one evasion is an edit to a separator space
       when the name has two tokens and a <3-char head) and high at
       distance 2; the documented extension
       for a strict d≤2 guarantee is PassJoin-style segment keys, same
       join shape, more keys per name.
    3. **Verify once.** Candidates are ``distinct``-ed BEFORE the
       Levenshtein so a pair sharing three keys pays one verification,
       then filtered on the (JVM codegen) edit distance.

    A pathological key (a stopword token shared by the whole
    vocabulary) makes one block quadratic — the same hot-bucket
    salting used by ``dedup_minhash_lsh`` applies; at catalog-bounded
    name vocabularies the quadratic block is bounded too.
    """
    keys = names.select(
        "p_name",
        "n_parts",
        F.explode(
            F.array_union(
                F.split("p_name", " "),
                F.array(F.substring("p_name", 1, 3)),
            )
        ).alias("bk"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.p_name") < F.col("b.p_name")))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("name_a", "name_b")).filter(
        F.col("dist") <= max_dist
    ).select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")


@register(
    "part_name_fuzzy_pairs",
    oracle=FUZZY_ORACLE,
    tags=("dim", "entity-resolution"),
    past_window=True,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names (edit distance ≤ 2) via token+prefix
    blocking — the fuzzy half of dim entity resolution."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    return fuzzy_name_pairs(names)


SCD2_ORACLE = """
SELECT user_id,
       CAST(row_number() OVER w AS INTEGER) AS version,
       value,
       ts AS effective_from,
       lead(ts) OVER w AS effective_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def scd2_frame(changes: DataFrame, key: str = "user_id") -> DataFrame:
    """SCD type-2 validity intervals over a keyed change stream:
    version number, effective range, current flag.

    One shuffle on the dim key; each per-key window holds that
    entity's CHANGE HISTORY (bounded by update cadence — dims churn
    slowly by definition), never the fact volume, so no task sorts
    more than one entity's versions beyond the hash bin. The
    tie-break (ts, event_id) makes the version order total, so a
    replay lands the identical history — the batch analog of the
    upsert sink's idempotence contract (``streaming/store.py``).
    """
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return changes.select(
        key,
        F.row_number().over(w).cast("int").alias("version"),
        "value",
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "scd2_dim_history",
    oracle=SCD2_ORACLE,
    tags=("dim", "scd2"),
    past_window=True,
)
def scd2_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of the per-user dim carried on signup events:
    every change becomes a versioned validity interval, the open
    interval flags the current row."""
    events = load_table(spark, sf_dir, "events")
    return scd2_frame(events.filter(F.col("event_type") == "signup"))


# --------------------------------- complete edit-distance self-join

_PJ_TAU = 2  # edit-distance threshold with a completeness GUARANTEE

EDIT_JOIN_ORACLE = """
WITH names AS (
    SELECT p_name AS nm, CAST(strlen(p_name) AS INTEGER) AS n
    FROM (SELECT DISTINCT p_name FROM part) WHERE strlen(p_name) >= 3
),
idx AS (
    SELECT nm, n, i,
           substr(nm, i * (n // 3) + least(i, n % 3) + 1,
                      n // 3 + CASE WHEN i < n % 3 THEN 1 ELSE 0 END) AS seg
    FROM names, (SELECT unnest([0, 1, 2]) AS i)
    WHERE n // 3 + CASE WHEN i < n % 3 THEN 1 ELSE 0 END >= 1
),
probe AS (
    SELECT DISTINCT nm AS pnm, k.v AS v, k.i AS i, k.seg AS seg
    FROM (
        SELECT nm,
               unnest(flatten(flatten(list_transform(range(n - 2, n + 3), v ->
                   list_transform(range(0, 3), i ->
                       list_transform(range(i * (v // 3) + least(i, v % 3) - 2,
                                            i * (v // 3) + least(i, v % 3) + 3), s ->
                           CASE WHEN v >= 3
                                 AND s >= 0
                                 AND v // 3 + CASE WHEN i < v % 3 THEN 1 ELSE 0 END >= 1
                                 AND s + (v // 3 + CASE WHEN i < v % 3 THEN 1 ELSE 0 END) <= n
                            THEN {'v': v, 'i': i,
                                  'seg': substr(nm, CAST(s + 1 AS INTEGER),
                                                CAST(v // 3 + CASE WHEN i < v % 3 THEN 1 ELSE 0 END AS INTEGER))}
                            ELSE NULL END)))))) AS k
        FROM names
    ) raw WHERE k IS NOT NULL
),
cand AS (
    SELECT DISTINCT
        CASE WHEN idx.nm < probe.pnm THEN idx.nm ELSE probe.pnm END AS name_a,
        CASE WHEN idx.nm < probe.pnm THEN probe.pnm ELSE idx.nm END AS name_b
    FROM idx JOIN probe
      ON idx.i = probe.i AND idx.n = probe.v AND idx.seg = probe.seg
         AND idx.nm <> probe.pnm
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 2
"""

_PJ_PROBE_KEYS = """
filter(
  flatten(flatten(transform(sequence(n - 2, n + 2), v ->
    transform(sequence(0, 2), i ->
      transform(sequence(i * (v div 3) + least(i, v % 3) - 2,
                         i * (v div 3) + least(i, v % 3) + 2), s ->
        CASE WHEN v >= 3
              AND s >= 0
              AND v div 3 + CASE WHEN i < v % 3 THEN 1 ELSE 0 END >= 1
              AND s + (v div 3 + CASE WHEN i < v % 3 THEN 1 ELSE 0 END) <= n
         THEN named_struct('v', v, 'i', i,
              'seg', substring(nm, s + 1,
                     v div 3 + CASE WHEN i < v % 3 THEN 1 ELSE 0 END))
         ELSE NULL END))))),
  x -> x IS NOT NULL)
"""


def edit_join_complete(names: DataFrame) -> DataFrame:
    """Edit-distance self-join with a COMPLETENESS GUARANTEE for
    τ = 2 — the PassJoin partition scheme (Li, Deng & Feng, ICDE 2011)
    as pure equi-joins, closing the recall gap ``fuzzy_name_pairs``'
    token blocking documents.

    Pigeonhole: τ+1 = 3 disjoint segments per string mean ≤ τ edits
    leave SOME segment untouched, and the untouched segment's image in
    the other string is an exact substring whose start shifts by at
    most the net indels before it (≤ τ). So the index side emits its 3
    segment keys; the probe side emits, for each plausible source
    length v ∈ [m−τ, m+τ] and segment i, the ≤ 2τ+1 substrings of
    length l_i(v) starting within ±τ of p_i(v) — a CONSTANT ≤ 75-key
    fan-out per string, no similarity math in the join condition. Any
    true pair at distance ≤ τ therefore collides on at least one
    (i, v, seg) key (an EXHAUSTIVE test pins Spark result == all-pairs
    ground truth, and a property test pins arbitrary ≤2-edit mutations
    — including space edits, which token blocking can miss). The
    Levenshtein verify runs once per DISTINCT candidate pair.

    Scale: both sides are name-grain with constant fan-out, candidates
    meet only on exact (i, v, seg) equality — the same posting-list
    discipline as every LSH join in the repo; no all-pairs stage
    exists at any cardinality. Hot keys (a segment shared by a huge
    name family) are AQE skew-split, with the minhash salting pattern
    available unchanged.
    """
    base = names.select(
        F.col("p_name").alias("nm"), F.length("p_name").cast("int").alias("n")
    ).filter(F.col("n") >= 3)
    li = F.expr("n div 3 + CASE WHEN i < n % 3 THEN 1 ELSE 0 END")
    idx = (
        base.select("nm", "n", F.explode(F.expr("sequence(0, 2)")).alias("i"))
        .filter(li >= 1)
        .select(
            "nm",
            "n",
            "i",
            F.expr(
                "substring(nm, i * (n div 3) + least(i, n % 3) + 1,"
                " n div 3 + CASE WHEN i < n % 3 THEN 1 ELSE 0 END)"
            ).alias("seg"),
        )
    )
    probe = (
        base.select("nm", F.explode(F.expr(_PJ_PROBE_KEYS)).alias("k"))
        .select(
            F.col("nm").alias("pnm"),
            F.col("k.v").alias("v"),
            F.col("k.i").alias("i"),
            F.col("k.seg").alias("seg"),
        )
        .distinct()
    )
    cand = (
        idx.join(
            probe,
            (idx["i"] == probe["i"])
            & (idx["n"] == probe["v"])
            & (idx["seg"] == probe["seg"])
            & (idx["nm"] != probe["pnm"]),
        )
        .select(
            F.least("nm", "pnm").alias("name_a"),
            F.greatest("nm", "pnm").alias("name_b"),
        )
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("name_a", "name_b")).filter(
        F.col("dist") <= _PJ_TAU
    )


@register(
    "part_name_edit_join",
    oracle=EDIT_JOIN_ORACLE,
    tags=("dim", "entity-resolution", "passjoin"),
    past_window=True,
)
def part_name_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL part-name pairs within edit distance 2, guaranteed — the
    PassJoin segment-key equi-join (complete, unlike the
    high-recall-by-construction ``part_name_fuzzy_pairs``)."""
    part = load_table(spark, sf_dir, "part")
    return edit_join_complete(part.select("p_name").distinct())


# --------------------------- as-of enrichment against the SCD2 history

DIM_ASOF_ORACLE = """
WITH hist AS (
    SELECT user_id, value,
           ts AS effective_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS effective_to
    FROM events WHERE event_type = 'signup'
)
SELECT p.event_id,
       p.user_id,
       p.ts,
       h.value AS dim_value,
       h.effective_from AS dim_effective_from
FROM events p
LEFT JOIN hist h
  ON h.user_id = p.user_id
 AND p.ts >= h.effective_from
 AND (h.effective_to IS NULL OR p.ts < h.effective_to)
WHERE p.event_type = 'purchase'
"""


@register(
    "purchase_dim_asof",
    oracle=DIM_ASOF_ORACLE,
    tags=("dim", "scd2", "asof", "J2"),
    # promoted into the driver window in the round-11 rotation
)
def purchase_dim_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the dim VERSION valid at purchase
    time — the point-in-time join that is the whole reason the SCD2
    history (``scd2_dim_history``) exists, and the query the
    reference's overwrite-in-place upsert (``DimSink.java:35-61``)
    structurally cannot answer ("what did this dim row look like when
    the fact happened?").

    The history's intervals are disjoint and half-open per key, so
    interval containment matches AT MOST one version — the join is an
    equi-join on the dim key with the containment as a residual
    (shuffle on user_id only; the same scale shape as the interval
    join, never a cross product). LEFT join keeps purchases that
    precede the user's first version (null dim columns), mirroring the
    reference's pass-through-on-missing-dim behavior
    (``DimAsyncFunction.java:40-55``).
    """
    events = load_table(spark, sf_dir, "events")
    hist = scd2_frame(events.filter(F.col("event_type") == "signup"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return dim_asof_enrich(purchases, hist)


def dim_asof_enrich(purchases: DataFrame, hist: DataFrame) -> DataFrame:
    """The point-in-time join core shared by ``purchase_dim_asof`` and
    the SCD2 property suite (``tests/test_properties.py``): LEFT join
    facts to the version whose half-open interval contains the fact
    timestamp. ``hist`` is any ``scd2_frame`` output; disjointness of
    its intervals is what guarantees at most one match per fact row —
    the invariant the Hypothesis property pins for arbitrary change
    sequences."""
    h = hist.select(
        F.col("user_id").alias("h_user_id"),
        F.col("value").alias("dim_value"),
        "effective_from",
        "effective_to",
    )
    return purchases.join(
        h,
        (F.col("user_id") == F.col("h_user_id"))
        & (F.col("ts") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))),
        "left",
    ).select(
        "event_id",
        "user_id",
        "ts",
        "dim_value",
        F.col("effective_from").alias("dim_effective_from"),
    )
