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
shares: :func:`_tokens_sql` (the word tokenizer), :func:`_grams_sql` (word
n-grams), :func:`_h60_sql` (60-bit md5 hash), :func:`_signature_agg` (the
per-doc MinHash aggregate), :func:`_jaccard_ratio` (the exact Jaccard
filter, fed by the inverted-index :func:`_jaccard` or the per-doc-set
:func:`_set_jaccard`), :func:`_bands` + :func:`_band_pairs` (banded
pigeonhole self-join), :func:`_vectors` + :func:`_dot` / :func:`_cos`
(vector arithmetic; ``_dot`` is the one place to swap the kernel) and
:func:`_nearest` (the per-vector argmax, run on the engine's one
packed-BIGINT pick, ``knn.packed_pick``, over the descending score
``scale - round(cos * scale)``).

MinHash-LSH is one pipeline, :func:`minhash_lsh_pairs`, from a
checkpointed signature frame on: bands, candidates, exact verify. It
checkpoints the signatures of its docs itself, or takes a caller's:
:func:`curate_near` hands it the signatures of the gated docs with their
gate metrics riding along, so the corpus is read once. The text builders
render SQL strings, so a plan costs a few JVM calls, not several per
column."""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType
from pyspark.sql.window import Window

from ..functions.rng import flit, u_sql
from .escalate import materialize
from .knn import PACK, _bcast, packed_pick

TOKENIZE = r"\s+"
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")


def _tokens_sql(text: str) -> str:
    """SQL token array of string column ``text``: split on TOKENIZE after a
    trim (the regex's backslashes doubled for the SQL string literal)."""
    regex = TOKENIZE.replace("\\", "\\\\")
    return f"split(trim({text}), '{regex}')"


def tokens_col(text: str = "text"):
    return F.expr(_tokens_sql(text))


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


def _dup_ngram_sql(tcol: str, n: int) -> str:
    """SQL Gopher dup-n-gram fraction (0.0 under ``n`` tokens) over a
    PRE-PROJECTED token-array column ``tcol``, projected in the caller's
    OWN select so the tokenization runs once per row (CollapseProject
    keeps non-cheap multi-referenced aliases staged). The gram count is
    ``size - n + 1`` floored at 0, so the gram array is built once; the
    empty gram array's 0/0 is NULL under ``try_divide`` and reads as 0.0."""
    total = f"greatest(size({tcol}) - {n - 1}, 0)"
    return (
        f"coalesce(round(1.0D - try_divide(size(array_distinct({_grams_sql(tcol, n)})), "
        f"{total}), 6), 0.0D)"
    )


def doc_repetition(
    df: DataFrame, n: int = 2, key: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Within-document duplicate word-n-gram fraction — the repetition
    signal of the published Gopher quality rules (Rae et al. 2021,
    appendix A1.1: repetitious documents are boilerplate/spam):

        dup_ngram_frac = 1 - distinct_ngrams / total_ngrams

    (0.0 for documents with fewer than ``n`` tokens or NULL text). Pure
    per-document projection: tokens -> n-gram array (direct element refs,
    :func:`_dup_ngram_sql`) -> array_distinct — no explode, no shuffle,
    nothing leaves the row. Complements :func:`doc_quality`'s ratio
    filters and the CROSS-document dedup family (this one needs no index
    at any corpus size)."""
    return df.selectExpr(key, f"{_tokens_sql(text)} AS _t").selectExpr(
        key, f"{_dup_ngram_sql('_t', n)} AS dup_ngram_frac"
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
    (key, text, _t, alpha_ratio, dup_ngram_frac), where ``_t`` is the
    doc's token array, for a later stage to reuse instead of tokenizing
    again."""
    alpha = (
        f"round(length(regexp_replace({text}, '[^a-zA-Z]', '')) / "
        f"CAST(nullif(length({text}), 0) AS DOUBLE), 6)"
    )
    # Metrics ride through a SINGLE-ELEMENT inline as a PUSHDOWN BARRIER:
    # PushDownPredicates substitutes pushed predicates through project
    # aliases, re-inlining the staged token array as split(text) PER
    # ELEMENT REFERENCE inside the gram lambda (~2(n+1) re-splits per gram
    # per doc — measured 52 s vs ~7 s for the gate pass at 1M docs; a
    # nondeterministic true-conjunct barrier gets constant-folded away).
    # A predicate over a GENERATOR output can never move below the
    # Generate, so the token array stages once, each metric evaluates once
    # per row inside the generator struct, and the filter reads the
    # generated columns. One struct+array alloc per row; still zero
    # shuffles.
    gated = (
        df.selectExpr(key, text, f"{_tokens_sql(text)} AS _t")
        .selectExpr(
            key, text, "_t",
            f"inline(array(struct({alpha} AS alpha_ratio, "
            f"{_dup_ngram_sql('_t', n)} AS dup_ngram_frac)))",
        )
        .where(
            f"alpha_ratio >= {flit(min_alpha)} AND dup_ngram_frac <= {flit(max_repetition)}"
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
       verification (:func:`minhash_lsh_pairs` over the survivors'
       signatures — one banded shuffle, never all-pairs);
    3. connected components over the verified pairs
       (:func:`dedup_clusters`) — component sizes are bounded by real
       near-dup cliques, not the corpus; a pair graph within
       ``LOCAL_COMPONENT_EDGES`` is collected once and resolved by a numpy
       union-find in the Spark driver, a larger one by label propagation;
    4. cluster-keeper election: a gated doc survives iff it is in no
       near-dup pair or is its component's minimum key (= the component's
       cluster_id label).

    The corpus is read in ONE gated pass: each surviving doc is tokenized
    once, its gate metrics ride the per-doc signature aggregate as min()
    carries, and that aggregate is checkpointed (:func:`escalate.
    materialize`, eager: its job runs when this is CALLED). The bands, the
    candidates and the final election all read the checkpoint; the exact
    verify reads only the candidate docs' texts. A gated doc under
    ``shingle_n`` tokens keeps its checkpoint row with NULL signatures, so
    it reaches the election as a singleton and never a band. Returns (key,
    alpha_ratio, dup_ngram_frac, n_near_dups) where ``n_near_dups`` is the
    size of the keeper's duplicate cluster (1 for docs with no near-dup)."""
    gated = _quality_gated(
        df, key, text, max_repetition, min_alpha, n, sample_rate, seed
    )
    carry = ("alpha_ratio", "dup_ngram_frac")
    sig = materialize(_signature_agg(
        gated.selectExpr(
            key, *carry, f"explode_outer({_grams_sql('_t', shingle_n)}) AS shingle"
        ),
        key, num_hashes, hasher, carry,
    ))
    # every candidate passed the gate (its signature row came from
    # `gated`), so the verify reads candidate texts from the raw corpus
    pairs = minhash_lsh_pairs(
        df, threshold, num_hashes, bands, key, text, shingle_n, hasher, signatures=sig
    )
    # one row per clustered doc, with its cluster's size: a keeper keeps
    # its row (and the size), any other clustered doc drops
    clusters = dedup_clusters(pairs).selectExpr(
        f"doc_id AS {key}", "cluster_id AS _cid",
        "count(1) OVER (PARTITION BY cluster_id) AS _cn",
    )
    return (
        sig.selectExpr(key, *carry)
        .join(clusters, key, "left")
        .where(f"_cid IS NULL OR _cid = {key}")
        .selectExpr(key, *carry, "CAST(coalesce(_cn, 1) AS BIGINT) AS n_near_dups")
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
    langs = sorted(LANG_PROFILES)  # alphabetical => tie-break by rank below

    def share(words):
        # NULL text => score 0 => 'und' (aligned with the DuckDB oracle's
        # coalesce; the explicit isNotNull guard is immune to the legacy
        # size(NULL) = -1 config, where -1/-1 would score 1)
        return F.when(
            F.col("_t").isNotNull(),
            F.round(F.size(F.filter(F.col("_t"), lambda t: t.isin(*words))) / F.size("_t"), 6),
        ).otherwise(F.lit(0.0))

    out = df.select(key, toks.alias("_t")).withColumns(
        {f"_s_{lang}": share(LANG_PROFILES[lang]) for lang in langs}
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
    return counted.selectExpr(
        "d1", "d2", "round(_c / (_na + _nb - _c), 6) AS jaccard"
    ).where(f"jaccard >= {flit(threshold)}")


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

    The shingle index materializes once, through
    :func:`escalate.materialize` (eager: its job runs when this function
    is CALLED), and "auto" reads the corpus size off that same job: each
    doc adds one weight-1 row, its first gram, or (key, NULL) for a doc
    with none, and the per-(doc, shingle) dedup keeps the max weight."""
    sh, n_docs = materialize(
        df.selectExpr(key, f"{_tokens_sql(text)} AS _t")
        .selectExpr(key, f"posexplode_outer({_grams_sql('_t', n)}) AS (_p, shingle)")
        .groupBy(key, "shingle")
        .agg(F.expr("max(CAST(coalesce(_p, 0) = 0 AS INT)) AS _w")),
        n_docs=F.sum("_w"),
    )
    sh = kept = sh.where("shingle IS NOT NULL").select(key, "shingle")
    if max_shingle_df == "auto":
        max_shingle_df = max(4096, int(n_docs * 0.01))
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
    return _signature_agg(
        shingles(df, key, text, n, distinct=False), key, num_hashes, hasher
    )


def _signature_agg(
    sh: DataFrame, key: str, num_hashes: int, hasher: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The per-doc MinHash aggregate of a (key, *carry, shingle) stream:
    (key, *carry, mh_0, ...), each ``carry`` column kept as its min(). A
    NULL shingle (an outer explode's row for a doc with no n-gram) hashes
    to NULL, so such a doc gets NULL signatures: the xxhash64 terms are
    guarded, as xxhash64(NULL, i) is not NULL. The aggregates are one
    struct in one SQL expression, so the plan costs a few JVM calls
    instead of several per hash."""
    if hasher == "md5":
        sh = sh.selectExpr("*", f"{_h60_sql('shingle')} % {MINHASH_P} AS _hp")
        mh = [f"(_hp * {a} + {b}) % {MINHASH_P}" for a, b in minhash_coeffs(num_hashes)]
    elif hasher == "xxhash64":
        mh = [
            f"CASE WHEN shingle IS NOT NULL THEN xxhash64(shingle, {i}) END"
            for i in range(num_hashes)
        ]
    else:
        raise ValueError("hasher must be 'xxhash64' or 'md5'")
    aggs = [f"min({c}) AS {c}" for c in carry] + [f"min({h}) AS mh_{i}" for i, h in enumerate(mh)]
    return sh.groupBy(key).agg(F.expr(f"struct({', '.join(aggs)}) AS _g")).selectExpr(key, "_g.*")


def _lsh_band_candidates(
    sig: DataFrame, num_hashes: int, bands: int, key: str, hasher: str
) -> DataFrame:
    """Distinct (d1 < d2) candidate pairs of the signature frame ``sig``
    (its docs with NULL signatures left out) from ONE exploded band
    self-join (VERDICT r04 next #6): the b band keys explode into
    (band_idx, band_key) rows and self-join once — the same pigeonhole
    shape as hamming_pairs — instead of b sequential joins over the banded
    frame (b small scans, but b shuffle stages). Both hashers already fold
    the band index into the key, so _b in the join condition is
    belt-and-braces, not semantics. ``hasher='md5'`` keys a band on its
    collision-free concatenated signature values, so band membership is
    EXACTLY "all r signature values equal", as in the DuckDB oracle. The
    bands are recomputed on each side of the self-join from ``sig``, which
    callers checkpoint: b hashes per doc are cheaper than a second
    checkpoint. Plan-gated separately
    (tests/test_dedup.py::test_minhash_lsh_single_banded_shuffle)."""
    rows = num_hashes // bands

    def band(b):
        mh = ", ".join(f"mh_{i}" for i in range(b * rows, (b + 1) * rows))
        return f"concat_ws(',', '{b}', {mh})" if hasher == "md5" else f"xxhash64({b}, {mh})"

    bv = _bands(sig.where("mh_0 IS NOT NULL"), {key: key}, [band(b) for b in range(bands)])
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
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, then EXACT Jaccard
    verification of candidates only (no false positives; false-negative
    rate bounded by the band curve 1-(1-s^r)^b). The scale path when the
    full inverted-index join is too hot.

    ``hasher='md5'`` switches the signatures to the DuckDB-reproducible
    family AND keys the band join on the collision-free concatenated
    signature rows (instead of their xxhash64), so band membership is
    EXACTLY "all r signature values equal" on both engines.

    ``signatures`` optionally is a checkpointed signature frame the caller
    already holds: (key, ..., mh_0, ...) as :func:`_signature_agg` builds
    it over the ``n``-gram shingles with ``hasher``, a doc with no shingle
    holding NULL signatures (it never bands). The signatures are then not
    computed again, and ``df`` only supplies the candidates' texts; it
    must hold (key, text) for every key of ``signatures``.
    :func:`curate_near` passes its gated signature checkpoint, which
    carries the gate metrics, with the raw corpus.

    Three stages materialize through :func:`escalate.materialize`: the
    signatures (unless given), the candidate pairs and the candidate docs'
    shingle sets (the last two counted on their own jobs). Each runs its
    job when this function is CALLED."""
    sig = signatures if signatures is not None else materialize(
        minhash_signatures(df, num_hashes, key, text, n, hasher)
    )
    cand = _lsh_band_candidates(sig, num_hashes, bands, key, hasher)
    return _set_jaccard(cand, df, key, text, n, threshold)


def _set_jaccard(
    cand: DataFrame, src: DataFrame, key: str, text: str, n: int, threshold: float
) -> DataFrame:
    """Exact Jaccard verify of the (d1, d2) candidate pairs ``cand`` over
    the texts of ``src``, through per-doc shingle SETS. Candidate docs only
    (guide §3 "pre-filter the big side when selective"): ``src``
    semi-join-reduces to the candidate ids BEFORE tokenization, so the set
    table is bounded by the candidates, never the corpus. Each doc's set
    (array_distinct of its n-grams) and its size are built once, and each
    pair scores |A ∩ B| as size(array_intersect) — no shingle strings
    shuffle, and no per-pair count aggregate runs. Pairs
    sharing no shingle are dropped (_c > 0), as :func:`_jaccard`'s shingle
    join emits no row for them.

    The candidates and the set table each materialize
    (:func:`escalate.materialize`), counted on their own checkpoint jobs,
    and every broadcast below is decided on those counts
    (``knn._bcast``): the candidate ids (two per pair) go to the
    semi-join, so ``src`` keeps its own partitions and its text never
    shuffles; the candidate pairs and the set sizes go to the verify; the
    sets go to it when their rows AND their shingle total are within the
    bound (set rows are wide). The verify streams the set table's
    partitions, one side of each pair, and evaluates array_intersect once
    per pair behind a single-element explode (the :func:`_quality_gated`
    barrier: Catalyst would otherwise inline ``_c`` into both filters and
    the output). The second side's size joins last, so the jaccard filter
    is that join's condition and the verified pairs are its output rows,
    which perfbench's traced fold reads (``dedup.lsh.verified_pairs``).

    The set broadcast borrows ``RESIDUE_BROADCAST_ROWS``, a bound sized
    on exploded point rows; on a shingle total it is not measured. The
    workloads sit far to either side of it: perfbench's ``curate`` (7,000
    docs; 3,000 set rows holding 116,000 shingles) broadcasts the sets,
    and ``bench_extra.py``'s 1M-doc corpus (428,571 set rows, 16.6M
    shingles) takes the sort-merge verify, its candidate ids, pairs and
    sizes still broadcast."""
    cand, n_cand = materialize(cand, n=F.count(F.lit(1)))
    ids = cand.selectExpr(f"explode(array(d1, d2)) AS {key}")
    sets, n_sets, n_sh = materialize(
        src.join(F.broadcast(ids) if _bcast(n_cand, per=2) else ids, key, "leftsemi")
        .selectExpr(key, f"{_tokens_sql(text)} AS _t")
        .selectExpr(key, f"array_distinct({_grams_sql('_t', n)}) AS _s")
        .selectExpr(key, "_s", "size(_s) AS _n"),
        n=F.count(F.lit(1)),
        sh=F.sum("_n"),
    )
    small = _bcast(n_sets, per=1)
    a = sets.selectExpr(f"{key} AS d1", "_s AS _s1", "_n AS _na")
    b = sets.selectExpr(f"{key} AS d2", "_s AS _s2")
    nb = sets.selectExpr(f"{key} AS d2", "_n AS _nb")
    counted = (
        a.join(F.broadcast(cand) if _bcast(n_cand, per=1) else cand, "d1")
        .join(F.broadcast(b) if small and _bcast(n_sh, per=1) else b, "d2")
        .selectExpr("d1", "d2", "_na", "explode(array(size(array_intersect(_s1, _s2)))) AS _c")
        .where("_c > 0")
    )
    return _jaccard_ratio(counted.join(F.broadcast(nb) if small else nb, "d2"), threshold)


def _bands(df: DataFrame, cols: dict[str, str], values: list[str]) -> DataFrame:
    """One row per band: (``cols``' names, each from its SQL, _b = band
    index, _v = the band's value from the SQL ``values``) via a single
    struct-array inline, in one projection."""
    structs = ", ".join(f"struct({b} AS _b, {v} AS _v)" for b, v in enumerate(values))
    return df.selectExpr(
        *[f"{c} AS {name}" for name, c in cols.items()], f"inline(array({structs}))"
    )


def _band_pairs(bv: DataFrame, key: str, carry: tuple[str, ...] = ()) -> DataFrame:
    """The pigeonhole self-join of a :func:`_bands` frame: (d1 < d2) pairs
    agreeing on (_b, _v), one row per shared band; each ``carry`` column
    ``c`` rides along as ``c1`` / ``c2``."""
    l, r = (
        bv.selectExpr(f"{key} AS d{s}", *[f"{c} AS {c}{s}" for c in carry], "_b", "_v")
        for s in (1, 2)
    )
    return l.join(r, ["_b", "_v"]).where("d1 < d2")


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
        parts.append(f"shiftright({col}, {lo}) & {mask}")
    bv = _bands(df, {"_hk": key, "_h": col}, parts)
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
    edges = materialize(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    labels = materialize(edges.select("a").distinct().withColumn("label", F.col("a")))
    for _ in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("a").alias("b"), F.col("label").alias("_nl")), "b"
        ).groupBy("a").agg(F.min("_nl").alias("_best"))
        # the changed-count is a metric of the round's own checkpoint job —
        # no per-round probe job (a NULL _best changes nothing)
        labels, n_chg = materialize(
            labels.join(nbr, "a", "left").select(
                "a",
                F.least(F.col("label"), F.coalesce("_best", F.col("label"))).alias("label"),
                (F.col("_best") < F.col("label")).alias("_chg"),
            ),
            n_chg=F.sum(F.col("_chg").cast("long")),
        )
        if n_chg == 0:
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
    # vanish from results. The normalized frame materializes once for its
    # ~4 downstream consumers (escalate.materialize, not cache).
    e = materialize(
        _vectors(emb, key, vec).select(
            "_id",
            F.expr(
                f"transform(_v, v -> v / greatest(sqrt({_dot('_v', '_v')}), 1.0e-12))"
            ).alias("_v"),
        )
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
