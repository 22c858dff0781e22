"""Training-data pipeline operators over document / embedding tables:
deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash), text metrics
(tokens, quality, language-ID), similarity search (brute-force cosine kNN +
LSH-bucketed ANN).

Not part of the MaskMyPy reference — these are the large-scale data-prep
operators the engine adds for its 100 TB target workload. Everything is
built from the same primitives as the spatial layer: declarative explode +
equi-join + aggregate (JVM-side), with the engine's hash family for
sketches so results are partitioning-independent.

Each text and vector primitive has one private builder every operator
shares: :func:`_grams_sql` (word n-grams), :func:`_h60_sql` (60-bit md5
hash), :func:`_jaccard_ratio` (the exact Jaccard filter, fed by the
inverted-index :func:`_jaccard` or the per-doc-set :func:`_set_jaccard`),
:func:`_bands` +
:func:`_band_pairs` (banded pigeonhole self-join), :func:`_vectors` +
:func:`_dot` / :func:`_cos` (vector arithmetic; ``_dot`` is the one place
to swap the kernel) and :func:`_nearest` (the per-vector argmax, run on
the engine's one packed-BIGINT pick, ``knn.packed_pick``, over the
descending score ``scale - round(cos * scale)``)."""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType
from pyspark.sql.window import Window

from ..functions.rng import u_sql
from .knn import PACK, packed_pick

TOKENIZE = r"\s+"
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")


def tokens_col(text: str = "text"):
    return F.split(F.trim(F.col(text)), TOKENIZE)


# GPT-2-style pretokenizer shape, RE2-safe (no lookahead — DuckDB's regex
# engine must accept the same pattern so the oracle stays exact):
# contraction suffixes | letters | digits | punctuation runs | whitespace.
BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def doc_tokens(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Token + char counts per document: whitespace tokens and a BPE-ish
    regex pretoken count (the LLM-pipeline "how many tokens is this corpus"
    estimator — a real tokenizer refines the same match stream)."""
    return df.select(
        key,
        F.size(tokens_col(text)).alias("n_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_ISH), F.lit(0))).alias(
            "n_tokens_bpe"
        ),
        F.length(text).alias("n_chars"),
    )


def doc_quality(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Heuristic quality scores: alphabetic ratio, stopword ratio, mean
    token length — the standard cheap pre-filters of web-scale corpora."""
    toks = tokens_col(text)
    return df.select(
        key,
        F.round(
            F.length(F.regexp_replace(text, "[^a-zA-Z]", "")) / F.length(text), 6
        ).alias("alpha_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / F.size(toks),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace(text, r"\s+", "")) / F.size(toks), 6
        ).alias("mean_token_len"),
    )


def _grams_sql(t: str, n: int) -> str:
    """SQL array of the word ``n``-grams of token-array column ``t``, gram
    i built by direct element references (``t[i] || ' ' || t[i+1] ...``)
    instead of ``concat_ws(slice(...))`` — higher-order-function lambdas
    run INTERPRETED (CodegenFallback), and the slice allocated a fresh
    sub-array per gram per doc; the direct form measured 10x faster at 1M
    docs (43 -> 4.3 s, BENCH/NOTES.md). Identical strings: whitespace-split
    tokens can contain neither NULLs nor the joiner. Docs shorter than
    ``n`` tokens (and NULL text) get a typed empty array: there
    ``sequence(0, size - n)`` would count DOWN (a clamp to ``size - n =
    -1`` still yields ``[0, -1]``, and an explicit step of 1 raises), so
    the guard is an explicit ``IF``."""
    idx = " || ' ' || ".join(f"{t}[i + {j}]" for j in range(n))
    return (
        f"IF(size({t}) >= {n}, transform(sequence(0, size({t}) - {n}), "
        f"i -> {idx}), CAST(array() AS ARRAY<STRING>))"
    )


def _h60_sql(c: str) -> str:
    """60-bit hash of string column ``c``: its first 15 md5 hex digits as
    a BIGINT (dialect-shared SQL, so DuckDB oracles compute it bit-equal)."""
    return f"CAST(conv(substring(md5({c}), 1, 15), 16, 10) AS BIGINT)"


def _dup_ngram_col(tcol: str, n: int):
    """Gopher dup-n-gram fraction (0.0 under ``n`` tokens) over a
    PRE-PROJECTED token-array column ``tcol``, projected in the caller's
    OWN select so the tokenization runs once per row (CollapseProject
    keeps non-cheap multi-referenced aliases staged)."""
    grams = F.expr(_grams_sql(tcol, n))
    cnt = F.size(F.col(tcol)) - F.lit(n - 1)
    return F.when(
        cnt >= 1,
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 6),
    ).otherwise(F.lit(0.0))


def doc_repetition(
    df: DataFrame, n: int = 2, key: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Within-document duplicate word-n-gram fraction — the repetition
    signal of the published Gopher quality rules (Rae et al. 2021,
    appendix A1.1: repetitious documents are boilerplate/spam):

        dup_ngram_frac = 1 - distinct_ngrams / total_ngrams

    (0.0 for documents with fewer than ``n`` tokens or NULL text). Pure
    per-document projection: tokens -> n-gram array (direct element refs,
    :func:`_dup_ngram_col`) -> array_distinct — no explode, no shuffle,
    nothing leaves the row. Complements :func:`doc_quality`'s ratio
    filters and the CROSS-document dedup family (this one needs no index
    at any corpus size)."""
    return df.select(key, tokens_col(text).alias("_t")).select(
        key, _dup_ngram_col("_t", n).alias("dup_ngram_frac")
    )


def curate(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_repetition: float = 0.3,
    min_alpha: float = 0.4,
    sample_rate: float | None = None,
    seed: int = 1,
    n: int = 2,
) -> DataFrame:
    """End-to-end text-curation pipeline — the composition the §2.11
    operators exist for, in the cost shape a 100 TB corpus demands:

    1. per-row quality gates (alphabetic ratio >= ``min_alpha``, Gopher
       duplicate-``n``-gram fraction <= ``max_repetition``) — ONE
       projection on the scan, nothing shuffles;
    2. optional deterministic hash sample (``sample_rate`` — replayable,
       partition-independent) — a pushdown filter;
    3. exact-dedup keeper election (min key per content digest) over the
       SURVIVORS — the pipeline's only shuffle, on the md5 digest, after
       the cheap gates have already discarded rows.

    NULL/empty texts drop at the alpha gate (undefined ratio). Gates
    compare on the 6 dp-rounded metrics (the same values returned), so
    boundary behavior is engine-exact. Returns the surviving keeper rows
    as (key, alpha_ratio, dup_ngram_frac)."""
    gated = _quality_gated(
        df, key, text, max_repetition, min_alpha, n, sample_rate, seed
    )
    # Keeper election as ONE digest-keyed HashAggregate: the previous
    # Window(min over md5(text)) shuffled AND sorted the full text column;
    # projecting the digest first shuffles 32 bytes per row with map-side
    # partial aggregation and no sort (guide §2.3: shuffle keys, not
    # payloads). Rows sharing a digest share the text, hence identical
    # metrics — min_by on the keeper key returns exactly the keeper row's
    # values (deterministic: key is unique).
    return (
        gated.select(
            key, "alpha_ratio", "dup_ngram_frac", F.md5(F.col(text)).alias("_dig")
        )
        .groupBy("_dig")
        .agg(
            F.min(key).alias(key),
            F.expr(f"min_by(alpha_ratio, {key})").alias("alpha_ratio"),
            F.expr(f"min_by(dup_ngram_frac, {key})").alias("dup_ngram_frac"),
        )
        .select(key, "alpha_ratio", "dup_ngram_frac")
    )


def _quality_gated(
    df: DataFrame,
    key: str,
    text: str,
    max_repetition: float,
    min_alpha: float,
    n: int,
    sample_rate: float | None,
    seed: int,
) -> DataFrame:
    """The shared gate stage of the curate pipelines: per-row quality
    metrics + threshold filters (+ optional deterministic hash sample) as
    ONE projection-and-filter over the scan — nothing shuffles. Returns
    (key, text, alpha_ratio, dup_ngram_frac)."""
    alpha = F.expr(
        f"round(length(regexp_replace({text}, '[^a-zA-Z]', '')) / "
        f"CAST(nullif(length({text}), 0) AS DOUBLE), 6)"
    )
    # Metrics ride through a SINGLE-ELEMENT explode as a PUSHDOWN BARRIER:
    # PushDownPredicates substitutes pushed predicates through project
    # aliases, re-inlining the staged token array as split(text) PER
    # ELEMENT REFERENCE inside the gram lambda (~2(n+1) re-splits per gram
    # per doc — measured 52 s vs ~7 s for the gate pass at 1M docs; a
    # nondeterministic true-conjunct barrier gets constant-folded away).
    # A predicate over a GENERATOR output can never move below the
    # Generate, so the token array stages once, each metric evaluates once
    # per row inside the generator struct, and the filter reads struct
    # fields. One struct+array alloc per row; still zero shuffles.
    gated = (
        df.select(key, F.col(text), tokens_col(text).alias("_t"))
        .select(
            key,
            F.col(text),
            F.explode(
                F.array(
                    F.struct(
                        alpha.alias("alpha_ratio"),
                        _dup_ngram_col("_t", n).alias("dup_ngram_frac"),
                    )
                )
            ).alias("_m"),
        )
        .select(
            key,
            F.col(text),
            F.col("_m.alpha_ratio").alias("alpha_ratio"),
            F.col("_m.dup_ngram_frac").alias("dup_ngram_frac"),
        )
        .where(
            (F.col("alpha_ratio") >= float(min_alpha))
            & (F.col("dup_ngram_frac") <= float(max_repetition))
        )
    )
    if sample_rate is not None:
        gated = hash_sample(gated, sample_rate, key, seed)
    return gated


def curate_near(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_repetition: float = 0.3,
    min_alpha: float = 0.4,
    sample_rate: float | None = None,
    seed: int = 1,
    n: int = 2,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """:func:`curate` with NEAR-duplicate dedup in place of the exact
    digest election — the full web-corpus curation composition:

    1. quality gates (+ optional hash sample) — one projection, no shuffle;
    2. MinHash-LSH candidate pairs over the SURVIVORS + exact-Jaccard
       verification (:func:`minhash_lsh_pairs` — one banded shuffle, never
       all-pairs);
    3. connected components over the verified pairs
       (:func:`dedup_clusters`) — component sizes are bounded by real
       near-dup cliques, not the corpus; a pair graph within
       ``LOCAL_COMPONENT_EDGES`` is collected once and resolved by a numpy
       union-find in the Spark driver, a larger one by label propagation;
    4. cluster-keeper election: a gated doc survives iff it is in no
       near-dup pair or is its component's minimum key (= the component's
       cluster_id label).

    The gated frame is scanned by both the pair derivation and the final
    election — two passes over a projection, the standard trade against
    materializing a corpus-scale intermediate. Returns (key, alpha_ratio,
    dup_ngram_frac, n_near_dups) where ``n_near_dups`` is the size of the
    keeper's duplicate cluster (1 for docs with no near-dup)."""
    gated = _quality_gated(
        df, key, text, max_repetition, min_alpha, n, sample_rate, seed
    )
    # shingle_source=df: every LSH candidate already passed the gate (its
    # signature came from `gated`), so the exact verify reads candidate
    # texts from the RAW corpus — same rows, but the gate-metric lineage
    # (which the optimizer does not push the candidate semi-join beneath)
    # is not re-evaluated corpus-wide a second time.
    pairs = minhash_lsh_pairs(
        gated, threshold, num_hashes, bands, key, text, shingle_n, hasher,
        shingle_source=df,
    )
    clusters = dedup_clusters(pairs).withColumnRenamed("doc_id", "_cd")
    csize = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_cn"))
    # the election only needs (key, metrics) — drop the text payload before
    # the cluster joins so the corpus text never enters their shuffles
    return (
        gated.select(key, "alpha_ratio", "dup_ngram_frac")
        .join(
            clusters.withColumnRenamed("_cd", key), key, "left"
        )
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(key)))
        .join(csize.withColumnRenamed("cluster_id", key), key, "left")
        .select(
            key,
            "alpha_ratio",
            "dup_ngram_frac",
            F.coalesce(F.col("_cn"), F.lit(1)).cast("long").alias("n_near_dups"),
        )
    )


TAG_SAMPLE = 10  # draw-site tag for hash_sample (disjoint from rng.py tags)

# PII patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB) so the scrub has an exact cross-engine oracle.
PII_PATTERNS = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\+?\d[\d -]{7,14}\d\b", "[PHONE]"),
)


def hash_sample(
    df: DataFrame, rate: float, key: str = "doc_id", seed: int = 1
) -> DataFrame:
    """Deterministic corpus sampling: keep rows whose keyed hash-uniform is
    below ``rate``. Unlike ``df.sample`` the decision is a PURE FUNCTION of
    (key, seed) — independent of partitioning, task retries, and cluster
    size, so a sample drawn at 1000 executors replays bit-identically on a
    laptop, and disjoint seeds give independent samples (train/val/test
    splits). Plain filter: pushes down, no shuffle."""
    return df.where(F.expr(u_sql(key, TAG_SAMPLE, seed)) < float(rate))


def scrub_pii(df: DataFrame, text: str = "text", out: str | None = None) -> DataFrame:
    """Redact emails / IPv4s / phone-like digit runs with typed placeholder
    tokens (the standard pre-training scrub). Chained ``regexp_replace``
    column expressions — whole-stage codegen, no UDF; patterns are
    deliberately RE2-compatible (see PII_PATTERNS) so the DuckDB oracle is
    exact."""
    col = F.col(text)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out or text, col)


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 13,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY word
    ``n``-gram with an evaluation set (the standard 13-gram rule from the
    GPT-3/PaLM data pipelines). Returns (train doc_id AS ``doc_id``,
    n_test_docs hit, n_shared_ngrams) — one row per CONTAMINATED train doc;
    the caller anti-joins to drop them.

    Scale shape: both sides reduce to DISTINCT shingles (one projection +
    dedup each), then ONE equi-join on the shingle string — the test side
    is tiny next to the training corpus, so the join broadcasts; shuffle
    volume is bounded by the contaminated overlap, never the corpus."""
    tr = shingles(train, key, text, n).withColumnRenamed(key, "_tr")
    te = shingles(test, key, text, n).withColumnRenamed(key, "_te")
    hits = tr.join(F.broadcast(te), "shingle")
    return (
        hits.groupBy(F.col("_tr").alias(key))
        .agg(
            F.countDistinct("_te").alias("n_test_docs"),
            F.countDistinct("shingle").alias("n_shared_ngrams"),
        )
    )


# Stopword profiles for the n-gram/function-word language-ID heuristic —
# the standard cheap pre-filter of web-scale corpora (a real pipeline swaps
# in fastText/CLD3 scores through the same operator shape).
LANG_PROFILES = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "en": ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for"),
    "es": ("el", "los", "las", "que", "es", "una", "por", "con", "para", "del"),
    "fr": ("le", "les", "et", "des", "est", "une", "dans", "pour", "que", "pas"),
}


def language_id(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Per-document language guess: share of lowercase tokens hitting each
    language's function-word profile; argmax with alphabetical tie-break;
    'und' when nothing matches. Pure JVM column expressions (lower + split
    + filter + size) — one pass, no shuffle, no Python."""
    toks = F.split(F.trim(F.lower(F.col(text))), TOKENIZE)
    out = df.select(key, toks.alias("_t"))
    langs = sorted(LANG_PROFILES)  # alphabetical => tie-break by rank below
    for lang in langs:
        words = LANG_PROFILES[lang]
        out = out.withColumn(
            f"_s_{lang}",
            # NULL text => score 0 => 'und' (aligned with the DuckDB
            # oracle's coalesce; the explicit isNotNull guard is immune to
            # the legacy size(NULL) = -1 config, where -1/-1 would score 1)
            F.when(
                F.col("_t").isNotNull(),
                F.round(
                    F.size(F.filter(F.col("_t"), lambda t: t.isin(*words))) / F.size("_t"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    # max over (score, rank): rank descends alphabetically, so equal scores
    # resolve to the alphabetically-first language.
    choices = F.array(
        *[
            F.struct(
                F.col(f"_s_{lang}").alias("s"),
                F.lit(len(langs) - 1 - i).alias("r"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(choices)
    return out.select(
        key,
        F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und")).alias("language"),
        best["s"].alias("score"),
    )


def dedup_exact(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash (md5); keeper = min key.
    Scale: one shuffle on the 128-bit digest, partial-aggregated map-side."""
    return (
        df.groupBy(F.md5(F.col(text)).alias("content_hash"))
        .agg(
            F.min(key).cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per document (JVM transform+explode).

    ``distinct=False`` skips the per-doc dedup — and with it a FULL
    shuffle of the corpus-scale shingle-string stream (the distinct's
    exchange moves every shingle byte). Correct whenever the consumer is
    insensitive to per-doc multiplicity: min-aggregation (MinHash
    signatures — min over a multiset equals min over its set) being the
    engine's case. Set-semantics consumers (|A|, |A ∩ B| Jaccard counts)
    must keep the default."""
    out = df.select(key, tokens_col(text).alias("_t")).select(
        key, F.explode(F.expr(_grams_sql("_t", n))).alias("shingle")
    )
    return out.distinct() if distinct else out


def _jaccard_ratio(counted: DataFrame, threshold: float) -> DataFrame:
    """The exact Jaccard filter both verifies share: from (d1, d2, _c =
    |A ∩ B|, _na = |A|, _nb = |B|) rows, returns (d1, d2, jaccard) with
    the 6 dp-rounded jaccard >= threshold."""
    return (
        counted.withColumn(
            "jaccard",
            F.round(F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def _jaccard(common: DataFrame, sh: DataFrame, key: str, threshold: float) -> DataFrame:
    """Exact Jaccard verify over an inverted index: ``common`` holds one
    (d1, d2) row per shingle the pair shares, ``sh`` the (key, shingle)
    sets the sizes count."""
    sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    return _jaccard_ratio(
        common.groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(sizes.select(F.col(key).alias("d1"), F.col("_n").alias("_na")), "d1")
        .join(sizes.select(F.col(key).alias("d2"), F.col("_n").alias("_nb")), "d2"),
        threshold,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    max_shingle_df: int | str | None = "auto",
) -> DataFrame:
    """n-gram Jaccard near-duplicate pairs via the shingle inverted index:
    docs sharing >=1 shingle are candidates; |A ∩ B| falls out of the index
    self-join, |A|,|B| from per-doc counts. One shuffle on shingle, one on
    the pair key. EXACT whenever no shingle's doc frequency exceeds
    ``max_shingle_df`` (always true at the contract-gate scales).

    ``max_shingle_df`` drops ubiquitous shingles (stop-shingles) from the
    candidate join — the mandatory skew guard at web scale, where one hot
    shingle makes the self-join quadratic. Default "auto" derives a cap of
    max(4096, 1% of corpus) — a no-op at verification scales (so the exact
    oracle still matches) while bounding any single shingle's join fan-out
    at 100 TB. ``None`` disables the guard (fully exact, unbounded skew).
    When the cap actually drops shingles a ``UserWarning`` reports how many
    (one cheap aggregate job): true pairs can then be missed — the
    denominator |A|+|B|-|A∩B| still counts dropped shingles, so a capped
    run only UNDER-estimates jaccard (no false positives).

    The shingle index materializes once, through an EAGER
    ``localCheckpoint``: its job runs when this function is CALLED, no cache
    entry outlives the call, and an executor lost afterwards makes a later
    action over the result fail instead of recomputing."""
    sh = shingles(df, key, text, n).localCheckpoint(eager=True)
    kept = sh
    if max_shingle_df == "auto":
        max_shingle_df = max(4096, int(df.count() * 0.01))
    if max_shingle_df is not None:
        # The hot set must fit executor memory anyway (it is the anti-join's
        # broadcast build side), so collecting it is no new bound: one
        # aggregate job serves the warning, and the anti-join probes a
        # LocalRelation that never re-runs the shingle aggregate.
        hot = (
            sh.groupBy("shingle")
            .count()
            .where(F.col("count") > max_shingle_df)
            .select("shingle")
            .collect()
        )
        if hot:
            warnings.warn(
                f"ngram_jaccard_pairs: dropping {len(hot)} shingles with doc "
                f"frequency > {max_shingle_df}; jaccard is under-estimated "
                "for pairs sharing them (pass max_shingle_df=None for the "
                "exact, skew-unbounded join)",
                UserWarning,
                stacklevel=2,
            )
            hot_df = sh.sparkSession.createDataFrame(hot, schema="shingle string")
            kept = sh.join(F.broadcast(hot_df), "shingle", "left_anti")
    # sizes count the FULL sets (dropped shingles included)
    a = kept.select(F.col(key).alias("d1"), "shingle")
    b = kept.select(F.col(key).alias("d2"), "shingle")
    return _jaccard(
        a.join(b, "shingle").where(F.col("d1") < F.col("d2")), sh, key, threshold
    )


def fingerprint_winnow(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash
    every word k-gram (rolling over the token stream), then keep the MIN
    hash of each sliding window of ``window`` consecutive k-gram hashes —
    the classic guarantee that any shared run of ``k + window - 1`` tokens
    yields at least one shared fingerprint, with ~1/window selection rate.

    Fully declarative: posexplode the k-grams, one Window min over
    (doc, position), distinct. The hash is md5-derived (first 60 bits) so
    the DuckDB oracle computes bit-identical fingerprints."""
    grams = (
        df.select(key, tokens_col(text).alias("_t"))
        .select(key, F.posexplode(F.expr(_grams_sql("_t", k))).alias("_pos", "_gram"))
        .withColumn("_h", F.expr(_h60_sql("_gram")))
    )
    # trailing partial windows are kept (same on both engines): they only
    # ever ADD suffix minima, preserving the shared-run guarantee
    w = Window.partitionBy(key).orderBy("_pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("_fp", F.min("_h").over(w))
        .select(key, F.col("_fp").alias("fingerprint"))
        .distinct()
    )


# Universal-hash family for the md5-mode MinHash: mh_i(s) =
# (a_i * (h60(s) mod P) + b_i) mod P over the Mersenne prime P = 2^31 - 1.
# Plain integer arithmetic (products < 2^62), so the SAME coefficients run
# bit-identically in Spark SQL and DuckDB — the exact-oracle path.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1) + 97) % MINHASH_P or 1
        b = (1_103_515_245 * (i + 1) + 12_345) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: min over shingles of hash_i(shingle) for
    i in 0..num_hashes-1. Partitioning-independent (pure function of the
    shingle set).

    ``hasher='xxhash64'`` (default) seeds the JVM hash per permutation;
    ``hasher='md5'`` maps each shingle through a 60-bit md5 hash and a
    universal-hash family mod 2^31-1 (:func:`minhash_coeffs`) — slower,
    but reproducible in DuckDB, giving the LSH pipeline an exact oracle.

    The shingle stream feeds the min-aggregate WITHOUT the per-doc
    distinct: min over a multiset equals min over its set (bit-identical
    signatures), and skipping it removes the full shuffle of the
    corpus-scale shingle strings — the per-doc partial min then combines
    map-side and only one partial row per (doc, map partition) reaches
    the exchange (guide §2 "remove shuffles outright")."""
    sh = shingles(df, key, text, n, distinct=False)
    if hasher == "md5":
        hp = f"({_h60_sql('shingle')} % {MINHASH_P})"
        mh = [
            F.expr(f"({hp} * {a} + {b}) % {MINHASH_P}")
            for a, b in minhash_coeffs(num_hashes)
        ]
    elif hasher == "xxhash64":
        mh = [F.xxhash64(F.col("shingle"), F.lit(i)) for i in range(num_hashes)]
    else:
        raise ValueError("hasher must be 'xxhash64' or 'md5'")
    return sh.groupBy(key).agg(*[F.min(h).alias(f"mh_{i}") for i, h in enumerate(mh)])


def _lsh_band_candidates(
    df: DataFrame,
    num_hashes: int,
    bands: int,
    key: str,
    text: str,
    n: int,
    hasher: str,
) -> DataFrame:
    """Distinct (d1 < d2) candidate pairs from ONE exploded band self-join
    (VERDICT r04 next #6): the b band keys explode into (band_idx,
    band_key) rows and self-join once — the same pigeonhole shape as
    hamming_pairs — instead of b sequential joins over the banded frame
    (b small scans, but b shuffle stages). Both hashers already fold the
    band index into the key, so _b in the join condition is
    belt-and-braces, not semantics. Plan-gated separately
    (tests/test_dedup.py::test_minhash_lsh_single_banded_shuffle) because
    minhash_lsh_pairs checkpoints this stage's output."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, num_hashes, key, text, n, hasher)
    mh = [F.col(f"mh_{i}") for i in range(num_hashes)]
    band_cols = [
        (
            F.concat_ws(",", F.lit(str(b)), *mh[b * rows:(b + 1) * rows])
            if hasher == "md5"
            else F.xxhash64(F.lit(b), *mh[b * rows:(b + 1) * rows])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(key, *band_cols)
    bv = _bands(banded, {key: F.col(key)}, [F.col(f"band_{b}") for b in range(bands)])
    # The self-join consumes bv TWICE; without a materialization each side
    # re-executes the whole signature pipeline (tokenize -> shingle ->
    # num_hashes mins) over the corpus — measured as a full duplicate pass
    # at 1M docs. The banded frame is (key, band_idx, band_key): bands
    # longs per doc, no text — the standard LSH index a production system
    # persists anyway — so checkpointing it is a narrow per-doc index, not
    # a corpus-payload materialization.
    bv = bv.localCheckpoint(eager=True)
    return _band_pairs(bv, key).select("d1", "d2").distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    hasher: str = "xxhash64",
    shingle_source: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, then EXACT Jaccard
    verification of candidates only (no false positives; false-negative
    rate bounded by the band curve 1-(1-s^r)^b). The scale path when the
    full inverted-index join is too hot.

    ``hasher='md5'`` switches the signatures to the DuckDB-reproducible
    family AND keys the band join on the collision-free concatenated
    signature rows (instead of their xxhash64), so band membership is
    EXACTLY "all r signature values equal" on both engines.

    ``shingle_source`` optionally names the frame the exact verify reads
    candidate texts from; it must agree with ``df`` on (key, text) for
    every key of ``df``. Pass the PRE-FILTER corpus when ``df`` is an
    expensively-derived view (curate_near's quality-gated frame): every
    candidate id came from ``df``'s signatures, so the semi-join below
    keeps exactly the same docs — but the filter lineage (which Spark does
    NOT push the semi-join beneath) is never re-evaluated, saving a full
    corpus pass of gate metrics per query. Defaults to ``df``.

    Three stages materialize through ``localCheckpoint(eager=True)``: the
    band index, the candidate pairs and the candidate docs' shingle sets.
    Each runs its job when this function is CALLED, before the caller's
    own action, and keeps its blocks only in executor storage with the
    lineage cut, so an executor lost afterwards makes a later action over
    the result fail instead of recomputing."""
    cand = _lsh_band_candidates(
        df, num_hashes, bands, key, text, n, hasher
    ).localCheckpoint(eager=True)
    return _set_jaccard(
        cand, shingle_source if shingle_source is not None else df,
        key, text, n, threshold,
    )


def _set_jaccard(
    cand: DataFrame, src: DataFrame, key: str, text: str, n: int, threshold: float
) -> DataFrame:
    """Exact Jaccard verify of the (d1, d2) candidate pairs ``cand`` over
    the texts of ``src``, through per-doc shingle SETS. Candidate docs only
    (guide §3 "pre-filter the big side when selective"): ``src``
    semi-join-reduces to the candidate ids BEFORE tokenization, so the set
    table is bounded by the candidates, never the corpus. Each doc's set
    (array_distinct of its n-grams) and its size are built once behind an
    eager ``localCheckpoint``, and each pair scores |A ∩ B| as
    size(array_intersect) — no shingle strings shuffle, and no per-pair
    count aggregate or size join runs. Pairs sharing no shingle are
    dropped (_c > 0), as :func:`_jaccard`'s shingle join emits no row for
    them."""
    cd = (
        cand.select(F.col("d1").alias(key))
        .unionByName(cand.select(F.col("d2").alias(key)))
        .distinct()
    )
    sets = (
        src.join(cd, key, "leftsemi")
        .select(key, tokens_col(text).alias("_t"))
        .select(key, F.expr(f"array_distinct({_grams_sql('_t', n)})").alias("_s"))
        .select(key, "_s", F.size("_s").alias("_n"))
        .localCheckpoint(eager=True)
    )
    a, b = (
        sets.select(
            F.col(key).alias(f"d{i}"), F.col("_s").alias(f"_s{i}"), F.col("_n").alias(nc)
        )
        for i, nc in ((1, "_na"), (2, "_nb"))
    )
    return _jaccard_ratio(
        cand.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1", "d2", F.size(F.array_intersect("_s1", "_s2")).alias("_c"), "_na", "_nb"
        )
        .where(F.col("_c") > 0),
        threshold,
    )


def _bands(df: DataFrame, cols: dict[str, Column], values: list[Column]) -> DataFrame:
    """One row per band: (``cols``' names, _b = band index, _v = the
    band's value from ``values``) via a single struct-array explode."""
    return df.select(
        *[c.alias(name) for name, c in cols.items()],
        F.explode(
            F.array(
                *[F.struct(F.lit(b).alias("b"), v.alias("v")) for b, v in enumerate(values)]
            )
        ).alias("_band"),
    ).select(*cols, F.col("_band.b").alias("_b"), F.col("_band.v").alias("_v"))


def _band_pairs(bv: DataFrame, key: str, carry: tuple[str, ...] = ()) -> DataFrame:
    """The pigeonhole self-join of a :func:`_bands` frame: (d1 < d2) pairs
    agreeing on (_b, _v), one row per shared band; each ``carry`` column
    ``c`` rides along as ``c1`` / ``c2``."""
    l, r = (
        bv.select(
            F.col(key).alias(f"d{s}"), *[F.col(c).alias(f"{c}{s}") for c in carry], "_b", "_v"
        )
        for s in (1, 2)
    )
    return l.join(r, ["_b", "_v"]).where(F.col("d1") < F.col("d2"))


def hamming_pairs(
    df: DataFrame,
    col: str,
    key: str = "doc_id",
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """All pairs whose 64-bit ``col`` values differ in <= max_hamming bits,
    via the banded pigeonhole join: split the word into ``bands`` contiguous
    bit bands (default max_hamming + 1 — any pair within the threshold must
    agree EXACTLY on at least one band), equi-join on (band index, band
    value), then verify bit_count(xor) on the candidates. No false
    negatives; candidate volume is bucket-bounded like MinHash-LSH — the
    standard scale path for SimHash / pHash dedup over web corpora.

    One exploded equi-join (band id folded into the join key) instead of
    ``bands`` separate self-joins; hashes travel with the explode so the
    verify is join-local."""
    bands = bands if bands is not None else max_hamming + 1
    if not 1 <= bands <= 64:
        raise ValueError("bands must be in [1, 64]")
    w = 64 // bands
    parts = []
    for b in range(bands):
        width = w if b < bands - 1 else 64 - w * (bands - 1)
        lo = b * w
        mask = -1 if width == 64 else (1 << width) - 1
        parts.append(F.shiftright(F.col(col), lo).bitwiseAND(F.lit(mask)))
    bv = _bands(df, {"_hk": F.col(key), "_h": F.col(col)}, parts)
    return (
        _band_pairs(bv, "_hk", ("_h",))
        .withColumn(
            "hamming", F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    key: str = "doc_id",
    text: str = "text",
    bands: int | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs: simhash64 + banded hamming join."""
    return hamming_pairs(
        simhash64(df, key, text, hasher), "simhash", key, max_hamming, bands
    )


# Edge bound of dedup_clusters' driver-side path: up to this many pair
# rows are collected (Arrow) and resolved in numpy; the same scale as
# knn.RESIDUE_BROADCAST_ROWS.
LOCAL_COMPONENT_EDGES = 2_000_000


def dedup_clusters(
    pairs: DataFrame, d1: str = "d1", d2: str = "d2", max_iter: int = 30
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    components) so a corpus can actually be deduplicated: every doc in a
    component maps to cluster_id = the component's minimum doc id (the
    keeper).

    Two engines, same rows:

    - **local** (integral or string keys): at most
      ``LOCAL_COMPONENT_EDGES + 1`` pair rows are collected as Arrow in one
      job; when the graph is within the bound (and has no NULL key), one
      vectorised numpy union-find resolves it (:func:`_components`) and
      the labels return through ``createDataFrame`` with the key's own
      Spark type. Near-dup graphs are bounded by real duplicate cliques,
      so this is the common path (``image_dedup``'s string ``image_id``
      included).
    - **propagation** (any other key type, or a graph over the bound):
      iterative min-label propagation — each round is one equi-join +
      min-aggregate, checkpointed so lineage stays flat; converges in
      O(component diameter) rounds; raise ``max_iter`` for pathological
      chain topologies. An over-bound graph pays the limited collect on
      top of the propagation.

    Returns (doc_id, cluster_id); docs that appear in no pair are their own
    singletons and are simply absent (callers union them back if needed)."""
    e = pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
    kt = e.schema["a"].dataType
    # binary-collated strings only: a collation reorders the minimum
    local = isinstance(kt, IntegralType) or kt == StringType()
    if local and kt == e.schema["b"].dataType:
        tbl = e.limit(LOCAL_COMPONENT_EDGES + 1).toArrow()
        if tbl.num_rows <= LOCAL_COMPONENT_EDGES and not (
            tbl.column("a").null_count or tbl.column("b").null_count
        ):
            doc, cid = _components(
                tbl.column("a").to_numpy(), tbl.column("b").to_numpy()
            )
            return pairs.sparkSession.createDataFrame(
                pa.table({"doc_id": doc, "cluster_id": cid}),
                StructType([StructField("doc_id", kt), StructField("cluster_id", kt)]),
            )
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select("a")
        .distinct()
        .withColumn("label", F.col("a"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("a").alias("b"), F.col("label").alias("_nl")), "b"
        ).groupBy("a").agg(F.min("_nl").alias("_best"))
        # the changed-count rides the round's own materialization job as an
        # Observation metric (VERDICT r04 next #8) — no per-round probe job
        obs = Observation()
        labels = (
            labels.join(nbr, "a", "left")
            .select(
                "a",
                F.least(F.col("label"), F.coalesce("_best", F.col("label"))).alias(
                    "label"
                ),
                (F.col("label") != F.least(
                    F.col("label"), F.coalesce("_best", F.col("label"))
                )).alias("_chg"),
            )
            .observe(obs, F.sum(F.col("_chg").cast("long")).alias("_n_chg"))
            .select("a", "label")
            .localCheckpoint(eager=True)
        )
        if (obs.get["_n_chg"] or 0) == 0:
            break
    else:
        raise RuntimeError(f"dedup_clusters did not converge in {max_iter} rounds")
    return labels.select(F.col("a").alias("doc_id"), F.col("label").alias("cluster_id"))


def _components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the edge list (a[i], b[i]) in numpy:
    returns (node, component minimum) over every node on an edge, sorted
    by node. Nodes map to their rank in the sorted distinct key set, so a
    smaller index is a smaller key (for strings too: code-point order is
    UTF-8 byte order, Spark's string order). Union-find by hooking: each
    round hooks, for every edge whose endpoints sit under different roots,
    the larger root under the smaller one (np.minimum.at keeps the
    smallest offer), then pointer-jumps every node to its root. Every
    round that finds a split edge merges at least two roots, and parents
    only move down, so each root is its component's minimum."""
    node, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(node))
    while True:
        pu, pv = parent[u], parent[v]
        split = pu != pv
        if not split.any():
            return node, node[parent]
        np.minimum.at(
            parent, np.maximum(pu, pv)[split], np.minimum(pu, pv)[split]
        )
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


# --- md5 token-hash fragments, written in dialect-shared SQL (valid in
# Spark SQL AND DuckDB) so the md5-mode simhash has an exact oracle twin:
# 15 hex nibbles of md5(token) = a 60-bit token hash; bit i (LSB=0) lives
# in nibble 14 - i//4 at in-nibble position i % 4.
SIMHASH_MD5_BITS = 60


def md5_nibble_sql(h: str, j: int) -> str:
    """Value 0..15 of hex digit ``j`` (0 = most significant) of column h."""
    return f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"


def md5_bit_sql(i: int) -> str:
    """Bit i of the 60-bit token hash from the prestaged _n{j} nibbles."""
    j, b = 14 - i // 4, i % 4
    return f"(CAST(floor(_n{j} / {1 << b}) AS INT) % 2)"


def simhash64(
    df: DataFrame, key: str = "doc_id", text: str = "text", hasher: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of the sum of token
    hash bits. Declarative: explode tokens, aggregate bit votes.

    ``hasher='xxhash64'`` (default) uses the JVM 64-bit hash — fastest, but
    not reproducible outside Spark. ``hasher='md5'`` derives a 60-bit token
    hash from the first 15 hex digits of md5(token) — ~2x the bytes per
    token but bit-identical in DuckDB, giving the sketch (and every
    downstream hamming pair) an EXACT cross-engine oracle; bits 60..63 are
    always 0."""
    if hasher == "md5":
        h, nbits, bit = F.md5("_tok"), SIMHASH_MD5_BITS, md5_bit_sql
        stage = {f"_n{j}": F.expr(md5_nibble_sql("_h", j)) for j in range(15)}
    elif hasher == "xxhash64":
        h, nbits, bit, stage = F.xxhash64("_tok"), 64, "(shiftright(_h, {}) & 1)".format, {}
    else:
        raise ValueError("hasher must be 'xxhash64' or 'md5'")
    toks = (
        df.select(key, F.explode(tokens_col(text)).alias("_tok"))
        .withColumn("_h", h)
        .withColumns(stage)
    )
    votes = toks.groupBy(key).agg(
        *[
            F.sum(F.expr(f"CASE WHEN {bit(i)} = 1 THEN 1 ELSE -1 END")).alias(f"_v{i}")
            for i in range(nbits)
        ]
    )
    # bit 63 is the sign bit, weight -2^63 (md5 mode stops at bit 59)
    expr = " + ".join(
        f"IF(_v{i} > 0, CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT), CAST(0 AS BIGINT))"
        for i in range(nbits)
    )
    return votes.select(key, F.expr(expr).alias("simhash"))


def embed_quantize(
    emb: DataFrame, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization of an embedding column — the
    standard 4x storage/bandwidth reduction of a 100 TB vector corpus
    (float32 -> int8 + one float scale per vector):

        scale = max(|v_i|) / 127 ;  q_i = round(v_i / scale)  in [-127, 127]

    Pure projection (transform/array_max — nothing leaves the row); the
    reconstruction v_i ~ q_i * scale is within scale/2 per component
    (asserted in tests). Zero vectors get scale 0.0 and all-zero codes.
    Returns (key, scale, q array<tinyint> as ints)."""
    v = f"transform({vec}, x -> CAST(x AS DOUBLE))"
    amax = f"array_max(transform({v}, x -> abs(x)))"
    scale = f"({amax} / CAST(127 AS DOUBLE))"
    q = (
        f"CASE WHEN {amax} = 0.0 THEN transform({v}, x -> CAST(0 AS INT)) "
        f"ELSE transform({v}, x -> CAST(round(x / {scale}) AS INT)) END"
    )
    return emb.select(
        key,
        F.round(F.expr(scale), 6).alias("scale"),
        F.expr(q).alias("q"),
    )


def _vectors(emb: DataFrame, key: str, vec: str) -> DataFrame:
    """(_id, _v): the embedding column cast element-wise to DOUBLE."""
    return emb.select(
        F.col(key).alias("_id"),
        F.expr(f"transform({vec}, v -> CAST(v AS DOUBLE))").alias("_v"),
    )


def _dot(a: str, b: str) -> str:
    """SQL dot product of two array<double> columns, summed in element
    order — the one kernel every cosine path runs."""
    return (
        f"aggregate(zip_with({a}, {b}, (p, q) -> p * q), CAST(0.0 AS DOUBLE), "
        "(acc, z) -> acc + z)"
    )


def _cos(a: str, b: str) -> str:
    """SQL cosine similarity of two array<double> columns."""
    return f"({_dot(a, b)}) / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))"


def _desc(score: str, scale: int) -> Column:
    """``score`` in [-1, 1] as the BIGINT ``scale - round(score * scale)``
    in [0, 2 * scale]: ascending in it is descending in ``score``, so the
    packed pick's min is the argmax (scale <= 1e9 keeps it below 2^31)."""
    return F.lit(scale) - F.round(F.col(score) * scale, 0).cast("bigint")


def _nearest(pairs: DataFrame, e: DataFrame, key: str, score: str) -> DataFrame:
    """Score the distinct id_a != id_b candidates in ``pairs`` against the
    :func:`_vectors` frame ``e`` with ``score`` (SQL over _va, _vb),
    rounded to 6 dp, and keep each id_a's best (ties to the smaller id_b).
    Returns (key, nn_id, cos)."""
    cand = pairs.where(F.col("id_a") != F.col("id_b")).select("id_a", "id_b").distinct()
    va = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(F.expr(score), 6))
    )
    best = packed_pick(scored, "id_a", _desc("cos", 1_000_000), "id_b")
    return best.select(
        F.col("id_a").alias(key),
        F.col("id_b").alias("nn_id"),
        ((F.lit(1_000_000) - F.expr(f"_pk DIV {PACK}")) / 1_000_000.0).alias("cos"),
    )


def cosine_nn(
    emb: DataFrame, key: str = "vec_id", vec: str = "embedding", k: int = 1
) -> DataFrame:
    """Brute-force exact cosine top-k join (the correctness baseline).
    O(n²·d) — fine for verification scales; ``cosine_nn_lsh`` is the
    scale path."""
    e = _vectors(emb, key, vec)
    a = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    pairs = a.join(b, F.col("id_a") != F.col("id_b")).withColumn(
        "cos", F.round(F.expr(_cos("_va", "_vb")), 6)
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(F.col("id_a").alias(key), F.col("id_b").alias("nn_id"), "cos", F.col("_rn").alias("rank"))
    )


def ivf_cosine_nn(
    emb: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 3,
    lloyd_iters: int = 3,
    seed: int = 13,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate NN via an IVF (inverted-file) index — the second scale
    path next to hyperplane LSH: deterministic hash-sampled seed centroids,
    a few Lloyd iterations run as DataFrame aggregations (assign = broadcast
    centroid join + packed argmax; update = groupBy avg), then each vector
    probes its ``n_probe`` nearest centroid lists and scores candidates
    exactly. Candidate volume ~ n * (n_probe / n_centroids) * n instead of
    n² — and unlike LSH, recall degrades gracefully with cluster overlap.

    Everything is JVM-side: dot products via ``zip_with``/``aggregate`` on
    array columns, centroid tables broadcast (n_centroids rows). The Lloyd
    loop is a driver loop of bounded, fixed length — each iteration is one
    broadcast join + one aggregation over the fact table."""
    spark = emb.sparkSession
    # L2-normalize once (cosine == dot product afterwards); the divisor is
    # floored at 1e-12 so a zero-norm embedding maps to the zero vector
    # (cos 0 against everything) instead of NULL elements that silently
    # vanish from results. localCheckpoint (not cache) materializes the
    # normalized frame once for its ~4 downstream consumers and leaves no
    # persistent cache entry behind when the operator's result is dropped.
    e = (
        _vectors(emb, key, vec)
        .select(
            "_id",
            F.expr(
                f"transform(_v, v -> v / greatest(sqrt({_dot('_v', '_v')}), 1.0e-12))"
            ).alias("_v"),
        )
        .localCheckpoint(eager=True)
    )

    if centroids is not None:
        # caller-provided coarse quantizer (e.g. a frozen or closed-form
        # table — the exact-oracle path): skip seeding AND Lloyd
        cents = [(int(c), [float(v) for v in vecs]) for c, vecs in centroids]
        lloyd_iters = 0
    else:
        # deterministic seed centroids: the n_centroids vectors with the
        # smallest keyed hash (order- and partition-independent)
        seeds = (
            e.withColumn("_u", F.expr(u_sql("abs(xxhash64(_id))", 31, seed)))
            .orderBy("_u", "_id")
            .limit(n_centroids)
            .select("_v")
            .collect()
        )
        cents = [(i, [float(x) for x in r["_v"]]) for i, r in enumerate(seeds)]

    def assign(cent_df, rank=1):
        """(_id, _cid) of each vector's `rank` nearest centroids."""
        scored = e.crossJoin(F.broadcast(cent_df)).withColumn(
            "_dot", F.expr(_dot("_v", "_c"))
        )
        desc = _desc("_dot", 1_000_000_000)
        if rank == 1:
            return packed_pick(scored, "_id", desc, "_cid").select("_id", "_cid")
        # top-`rank` by the same (score desc, id asc) order as packed_pick
        packed = scored.select(
            "_id", "_cid", (desc * F.lit(PACK) + F.col("_cid")).alias("_pk")
        )
        w = Window.partitionBy("_id").orderBy("_pk")
        return (
            packed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= rank)
            .select("_id", "_cid")
        )

    cent_df = spark.createDataFrame(cents, "_cid int, _c array<double>")
    for _ in range(lloyd_iters):
        a = assign(F.broadcast(cent_df))
        upd = (
            e.join(a, "_id")
            .select("_cid", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_cid", "_d")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cid")
            .agg(F.sort_array(F.collect_list(F.struct("_d", "_m"))).alias("_s"))
            .select("_cid", F.expr("transform(_s, s -> s._m)").alias("_c"))
        )
        # materialize the (n_centroids-row) table each iteration: keeps the
        # plan one-join deep instead of nesting lloyd_iters layers of
        # aggregation into a single mega-plan
        cent_df = spark.createDataFrame(
            [(int(r["_cid"]), [float(v) for v in r["_c"]]) for r in upd.collect()],
            "_cid int, _c array<double>",
        )

    lists = assign(cent_df, rank=1)                 # vector -> its list
    probes = assign(cent_df, rank=n_probe)          # vector -> probed lists
    la = probes.select(F.col("_id").alias("id_a"), "_cid")
    lb = lists.select(F.col("_id").alias("id_b"), "_cid")
    return _nearest(la.join(lb, "_cid"), e, key, _dot("_va", "_vb"))


def cosine_nn_lsh(
    emb: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    planes: int = 12,
    tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: ``tables`` independent
    sign-sketch buckets; candidates = bucket collisions; exact cosine on
    candidates; per-vector argmax. Recall < 1 by design (the scale path —
    candidate volume is O(n·bucket) instead of O(n²)).

    Hyperplanes ship as a BROADCAST plane table joined to the vectors (one
    `zip_with` dot product per (vector, plane) row) — never as inlined SQL
    literals, which at dim >= 256 used to blow Catalyst analysis/codegen
    (tables * planes * dim literals in one expression tree). All ``tables``
    band joins collapse into ONE equi-join on (table id, bucket).

    The per-vector argmax is :func:`_nearest`'s packed BIGINT min over the
    6 dp-rounded cos — lossless, and hash-aggregated instead of planning a
    SortAggregate over every candidate pair. Precondition: 0 <= id < 2^32."""
    spark = emb.sparkSession
    dim = len(emb.select(vec).head()[0])
    rs = np.random.RandomState(seed)
    plane_rows = [
        (t, p, [float(x) for x in rs.standard_normal(dim)])
        for t in range(tables)
        for p in range(planes)
    ]
    pl = spark.createDataFrame(plane_rows, "t int, p int, plane array<double>")

    e = _vectors(emb, key, vec)
    proj = e.crossJoin(F.broadcast(pl)).withColumn(
        "_bit", F.expr(f"CASE WHEN {_dot('_v', 'plane')} > 0 THEN 1 ELSE 0 END")
    )
    buckets = proj.groupBy("_id", "t").agg(
        F.sum(F.expr("_bit * shiftleft(CAST(1 AS BIGINT), p)")).alias("_bucket")
    )
    l = buckets.select(F.col("_id").alias("id_a"), "t", "_bucket")
    r = buckets.select(F.col("_id").alias("id_b"), "t", "_bucket")
    return _nearest(l.join(r, ["t", "_bucket"]), e, key, _cos("_va", "_vb"))
