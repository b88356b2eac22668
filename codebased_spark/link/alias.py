"""Alias table + fuzzy entity-link candidate scoring.

Reference analog (SURVEY.md §2.3): pass-1 symbol registry with multi-key
aliases (extractor.py:237-337 → J1), collision dedup by specificity
(extractor.py:330-337 → J2), and the suffix fuzzy-match fallback
(extractor.py:386-390 → J4) — which was an O(N²) driver-side linear scan in
the reference. Spark-first restatement:

- The alias table IS a DataFrame `(alias_key, entity_id, entity_type,
  specificity)`; collisions resolved with a row_number window, not a dict.
- Fuzzy linking is candidate-generation (a *blocking* equi-join on the
  lowercased first token — turns the O(N·M) all-pairs scan into a join) +
  TF-IDF char-3-gram cosine scoring in an Arrow-batched pandas UDF + a
  row_number window keeping the best candidate above threshold.
- IDF weights are computed once from the gazetteer (small, driver-side) and
  ship in the UDF closure (one broadcast per stage).

At 100 TB the candidate-pair table after blocking is the only big
intermediate; the two blocking keys (first token AND last token — the
latter is the reference's suffix fuzzy-match fallback, extractor.py:386-390)
keep it near-linear in mentions while catching corruption at either end of
the surface form.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# trailing corporate/org qualifiers whose removal still names the entity
_QUALIFIERS = (
    "Corporation|Industries|Systems|Holdings|Labs|Group|Dynamics|Analytics"
    "|Partners|Capital|Networks|Logistics|Inc|Ltd|Corp|Company|LLC|GmbH"
)
_ACRONYMABLE = r"^([A-Z][A-Za-z]*)( [A-Z][A-Za-z]*)+$"


def _variant_structs(surface, weight):
    """Generated key variants of one gazetteer surface, with scaled
    specificity — the multi-key registry of the reference
    (extractor.py:237-337 registers bare / qualified / prefixed / relative
    key variants per entity; the web analogs are qualifier-stripped names,
    acronyms, and url-token forms)."""
    stripped = F.regexp_replace(
        F.regexp_replace(surface, r"^The ", ""),
        f"( ({_QUALIFIERS}))+$",  # all trailing qualifier words at once
        "",
    )
    acronym = F.when(
        surface.rlike(_ACRONYMABLE),
        F.upper(
            F.array_join(
                F.transform(F.split(surface, " "), lambda w: F.substring(w, 1, 1)),
                "",
            )
        ),
    )
    urlform = F.lower(F.regexp_replace(surface, "[^A-Za-z0-9]", ""))
    return F.array(
        F.struct(stripped.alias("k"), (weight * 0.8).alias("s")),
        F.struct(acronym.alias("k"), (weight * 0.5).alias("s")),
        F.struct(urlform.alias("k"), (weight * 0.4).alias("s")),
    )


def build_alias_table(gazetteer: DataFrame, variants: bool = True) -> DataFrame:
    """(alias_key, entity_id, entity_type, specificity), deduped by priority.

    J1 + J2: each surface form keys exactly one entity; on collision the
    highest-specificity (weight) entry wins via a window, mirroring the
    reference's "more specific entity wins" rule (extractor.py:330-337).

    With ``variants=True`` (J1 in full), every surface also registers its
    GENERATED key variants — qualifier-stripped ("Acme Corporation" ->
    "Acme"), acronym ("Tyrell Dynamics Group" -> "TDG"), and url-token
    form ("Acme Corporation" -> "acmecorporation") — at scaled-down
    specificity. Divergence from the reference, on purpose: a generated
    key that maps to MORE THAN ONE entity is dropped entirely rather than
    resolved by priority ("Acme" when both "Acme Corporation" and "Acme
    Industries" exist) — curated gazetteer collisions carry an editorial
    weight signal, machine-generated ones do not, and a silently-wrong
    exact link is worse than falling through to the fuzzy scorer.
    Explicit surfaces always shadow generated keys of the same spelling.
    """
    base = gazetteer.select(
        F.col("surface_form").alias("alias_key"),
        F.col("canonical_id").alias("entity_id"),
        F.col("entity_type"),
        F.col("weight").alias("specificity"),
    )
    if variants:
        gen = (
            gazetteer.select(
                F.explode(
                    _variant_structs(F.col("surface_form"), F.col("weight"))
                ).alias("v"),
                F.col("surface_form"),
                F.col("canonical_id").alias("entity_id"),
                F.col("entity_type"),
            )
            .where(
                F.col("v.k").isNotNull()
                & (F.length("v.k") >= 3)
                & (F.col("v.k") != F.col("surface_form"))
            )
            .select(
                F.col("v.k").alias("alias_key"),
                "entity_id",
                "entity_type",
                F.col("v.s").alias("specificity"),
            )
        )
        # explicit surfaces shadow same-spelling generated keys...
        gen = gen.join(
            base.select("alias_key").distinct(), "alias_key", "left_anti"
        )
        # ...and ambiguous generated keys are dropped, not prioritized
        unambiguous = (
            gen.groupBy("alias_key")
            .agg(F.countDistinct("entity_id").alias("n_ents"))
            .where(F.col("n_ents") == 1)
            .select("alias_key")
        )
        gen = gen.join(unambiguous, "alias_key", "left_semi")
        base = base.unionByName(gen)
    w = Window.partitionBy("alias_key").orderBy(
        F.desc("specificity"), F.asc("entity_id")
    )
    return (
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_NONWORD = re.compile(r"\s+")


def _char_ngrams(s: str, n: int = 3) -> list[str]:
    s = "^" + _NONWORD.sub(" ", s.lower().strip()) + "$"
    if len(s) < n:
        return [s]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def build_idf(surfaces: list[str], n: int = 3) -> dict[str, float]:
    """IDF over the gazetteer's char n-grams (small; computed driver-side)."""
    df_counts: dict[str, int] = {}
    for s in surfaces:
        for g in set(_char_ngrams(s, n)):
            df_counts[g] = df_counts.get(g, 0) + 1
    n_docs = max(len(surfaces), 1)
    return {g: math.log((1 + n_docs) / (1 + c)) + 1.0 for g, c in df_counts.items()}


def tfidf_cosine_batch(
    a: pd.Series, b: pd.Series, idf: dict[str, float], default_idf: float
) -> pd.Series:
    """Vectorized-at-batch-level cosine of TF-IDF char-3-gram vectors."""

    def vec(s: str) -> dict[str, float]:
        v: dict[str, float] = {}
        for g in _char_ngrams(s):
            v[g] = v.get(g, 0.0) + 1.0
        norm = 0.0
        for g in v:
            v[g] *= idf.get(g, default_idf)
            norm += v[g] * v[g]
        norm = math.sqrt(norm) or 1.0
        return {g: w / norm for g, w in v.items()}

    cache: dict[str, dict[str, float]] = {}
    out = []
    for x, y in zip(a, b):
        vx = cache.get(x)
        if vx is None:
            vx = cache[x] = vec(x or "")
        vy = cache.get(y)
        if vy is None:
            vy = cache[y] = vec(y or "")
        if len(vy) < len(vx):
            vx, vy = vy, vx
        out.append(sum(w * vy.get(g, 0.0) for g, w in vx.items()))
    return pd.Series(out, dtype="float64")


def _blocks(df: DataFrame, key_col: str) -> DataFrame:
    """Dual blocking keys: first token (qualifier survives — the
    reference's assumption) AND last token (the reference's suffix
    fuzzy-match fallback, extractor.py:386-390 — catches corrupted FIRST
    tokens). Each side explodes to both keys; pair dedup before scoring.
    """
    lowered = F.lower(F.col(key_col))
    return df.withColumn(
        "blk",
        F.explode(
            F.array_distinct(
                F.array(
                    F.concat(F.lit("f:"), F.substring_index(lowered, " ", 1)),
                    F.concat(F.lit("l:"), F.substring_index(lowered, " ", -1)),
                )
            )
        ),
    )


def _char_ngram_array(col, n: int = 3):
    """Column twin of _char_ngrams: the '^text$'-decorated char 3-grams of
    a string, all JVM (used by the distributed scorer so gram semantics
    match the closure path exactly)."""
    s = F.concat(
        F.lit("^"), F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), F.lit("$")
    )
    return F.when(F.length(s) < n, F.array(s)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1)),
            lambda i: F.substring(s, i, F.lit(n)),
        )
    )


def _rank_top1(
    pairs: DataFrame,
    threshold: float,
    context_bonus: DataFrame | None = None,
    context_weight: float = 0.1,
) -> DataFrame:
    """Shared linker tail: best candidate per surface, threshold on the
    NAME score. With a context_bonus table the ranking adds
    context_weight * ctx_sim (0 where absent) — re-ordering only; the
    acceptance decision stays name-similarity-gated."""
    rank_score = F.col("link_score")
    if context_bonus is not None:
        pairs = pairs.join(
            context_bonus.select("surface", "entity_id", "ctx_sim"),
            ["surface", "entity_id"],
            "left",
        )
        rank_score = rank_score + F.lit(context_weight) * F.coalesce(
            F.col("ctx_sim"), F.lit(0.0)
        )
    w = Window.partitionBy("surface").orderBy(
        F.desc(rank_score), F.desc("link_score"), F.asc("entity_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("link_score") >= threshold))
        .select("surface", "entity_id", "entity_type", "link_score")
    )


def _link_fuzzy_distributed(
    spark: SparkSession,
    fuzzy: DataFrame,
    alias_table: DataFrame,
    threshold: float,
    surface_col: str = "surface",
    context_bonus: DataFrame | None = None,
    context_weight: float = 0.1,
) -> DataFrame:
    """Fully relational TF-IDF char-3-gram cosine scoring — the
    big-gazetteer fallback (VERDICT r2 "What's wrong #2").

    The closure path computes IDF driver-side and ships the dict in the
    UDF closure; both steps are vocabulary-sized and OOM at 10^8 aliases.
    Here everything is a join: IDF = one groupBy over the alias gram
    table; weights/norms = grouped aggregates; the pair score = a join of
    the two normalized gram tables on (alias_key, gram) + a sum — cosine
    as relational algebra, gazetteer never on the driver. Same blocking
    keys, same window/top-1/threshold tail as the closure path; scores
    agree to float rounding (parity test pins the link decisions).
    """

    def gram_tf(df: DataFrame, key: str) -> DataFrame:
        return (
            df.select(key, F.explode(_char_ngram_array(F.col(key))).alias("g"))
            .groupBy(key, "g")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        )

    a_keys = alias_table.select("alias_key").distinct()
    n_keys = a_keys.count()
    default_idf = math.log(1 + max(n_keys, 1)) + 1.0
    ag = gram_tf(a_keys, "alias_key")
    # df(gram) = number of alias keys containing it (ag rows are distinct
    # (key, gram) pairs, so a plain count is the document frequency)
    idf = ag.groupBy("g").agg(
        (F.log((1.0 + n_keys) / (1.0 + F.count(F.lit(1)))) + 1.0).alias("idf")
    )

    def normalized(tf_df: DataFrame, key: str, known_idf_only: bool) -> DataFrame:
        if known_idf_only:
            weighted = tf_df.join(idf, "g").withColumn(
                "w", F.col("tf") * F.col("idf")
            )
        else:
            weighted = tf_df.join(idf, "g", "left").withColumn(
                "w", F.col("tf") * F.coalesce("idf", F.lit(default_idf))
            )
        norms = weighted.groupBy(key).agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        return weighted.join(norms, key).select(
            key, "g", (F.col("w") / F.col("nrm")).alias("w")
        )

    aw = normalized(ag, "alias_key", known_idf_only=True).withColumnRenamed("w", "wa")
    surf = fuzzy.select(F.col(surface_col).alias("surface")).distinct()
    sw = normalized(gram_tf(surf, "surface"), "surface", known_idf_only=False
                    ).withColumnRenamed("w", "ws")

    cand = _blocks(surf, "surface")
    gaz_blocks = _blocks(alias_table, "alias_key")  # NOT broadcast: big side
    pairs = (
        cand.join(gaz_blocks, "blk")
        .drop("blk")
        .dropDuplicates(["surface", "alias_key"])
        .select("surface", "alias_key", "entity_id", "entity_type")
    )
    scored = (
        pairs.join(sw, "surface")
        .join(aw, ["alias_key", "g"])
        .groupBy("surface", "alias_key", "entity_id", "entity_type")
        .agg(F.sum(F.col("ws") * F.col("wa")).alias("link_score"))
    )
    return _rank_top1(scored, threshold, context_bonus, context_weight)


def link_fuzzy_mentions(
    spark: SparkSession,
    fuzzy: DataFrame,
    alias_table: DataFrame,
    threshold: float = 0.55,
    surface_col: str = "surface",
    max_broadcast_aliases: int = 2_000_000,
    context_bonus: DataFrame | None = None,
    context_weight: float = 0.1,
    alias_keys: list[str] | None = None,
) -> DataFrame:
    """Link non-gazetteer mention surfaces to entities.

    Input: distinct fuzzy surfaces. Output: (surface, entity_id, entity_type,
    link_score) — best candidate per surface with score ≥ threshold.

    Guarded adaptivity: up to `max_broadcast_aliases` the IDF model is
    built from one fused limit+collect probe and ships in the scoring
    UDF's closure (fast, zero extra shuffles); above it, the fully
    relational scorer keeps the gazetteer off the driver entirely.

    `context_bonus` — optional (surface, entity_id, ctx_sim) feature table
    (link/context.py::context_link_bonus): candidates are RANKED by
    link_score + context_weight * ctx_sim, while the acceptance threshold
    still applies to the name-similarity link_score alone — context can
    re-order near-tied candidates (the reference's where-the-mention-sits
    evidence) but can never admit a link the name score would reject.

    `alias_keys` — the alias table's keys, when the caller already holds
    them on the driver (graph/pipeline.py's probe): the IDF model is built
    from them and this function runs no probe of its own.
    """
    gaz_keys = alias_keys
    if gaz_keys is None:
        probe = alias_table.select("alias_key").limit(max_broadcast_aliases + 1).collect()
        gaz_keys = [r.alias_key for r in probe]
    if len(gaz_keys) > max_broadcast_aliases:
        return _link_fuzzy_distributed(
            spark, fuzzy, alias_table, threshold, surface_col=surface_col,
            context_bonus=context_bonus, context_weight=context_weight,
        )
    idf = build_idf(gaz_keys)
    default_idf = math.log(1 + max(len(gaz_keys), 1)) + 1.0

    @pandas_udf("double")
    def _score(a: pd.Series, b: pd.Series) -> pd.Series:
        return tfidf_cosine_batch(a, b, idf, default_idf)

    cand = _blocks(
        fuzzy.select(F.col(surface_col).alias("surface")).distinct(), "surface"
    )
    gaz_b = F.broadcast(_blocks(alias_table, "alias_key"))
    pairs = (
        cand.join(gaz_b, "blk")
        .drop("blk")
        .dropDuplicates(["surface", "alias_key"])
        .withColumn("link_score", _score(F.col("surface"), F.col("alias_key")))
    )
    return _rank_top1(pairs, threshold, context_bonus, context_weight)
