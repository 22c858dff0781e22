"""Dedup / similarity operators: MinHash-LSH + SimHash validated against
exact n-gram Jaccard on a corpus with planted near-duplicates."""

import numpy as np
import pandas as pd
import pytest

from maskmypy_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rs = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(120):
        n = rs.randint(30, 80)
        rows.append((i, " ".join(rs.choice(vocab, n))))
    # planted near-duplicates: copy with small perturbations
    base = dict(rows)
    for j, src in enumerate([3, 17, 42, 99]):
        words = base[src].split()
        k = rs.randint(0, len(words))
        words[k] = "zz"
        rows.append((1000 + j, " ".join(words)))
    # one exact duplicate
    rows.append((2000, base[7]))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()


def test_doc_quality_empty_text_gives_null_ratio(spark, docs):
    """An empty-string doc no longer fails the query with DIVIDE_BY_ZERO:
    its alpha_ratio (0 characters) is NULL; its one empty token gives 0.0
    token ratios, as the DuckDB oracle's split does; every other row is
    unchanged."""
    empty = spark.createDataFrame([(3000, "")], docs.schema)
    got = {r["doc_id"]: r for r in dedup.doc_quality(docs.unionByName(empty)).collect()}
    want = {r["doc_id"]: r for r in dedup.doc_quality(docs).collect()}
    e = got.pop(3000)
    assert e["alpha_ratio"] is None
    assert (e["stopword_ratio"], e["mean_token_len"]) == (0.0, 0.0)
    assert got == want


def test_dedup_exact_finds_planted_duplicate(docs):
    groups = dedup.dedup_exact(docs).where("n_dups > 1").collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 7
    assert groups[0]["n_dups"] == 2


def test_exact_jaccard_finds_planted_neardups(docs):
    pairs = {(r["d1"], r["d2"]) for r in dedup.ngram_jaccard_pairs(docs, 0.7).collect()}
    for j, src in enumerate([3, 17, 42, 99]):
        assert (src, 1000 + j) in pairs
    assert (7, 2000) in pairs  # exact dup has jaccard 1.0


def test_minhash_lsh_matches_exact_on_high_threshold(docs):
    """LSH candidates + exact verification: at tau=0.7 with 32 hashes / 8
    bands the band curve gives ~1.0 recall for j>=0.85 pairs; all planted
    pairs are >=0.9, so LSH must find exactly the exact-join result."""
    exact = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.7).collect()
    }
    lsh = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, 0.7).collect()
    }
    assert lsh == exact


def test_minhash_lsh_single_banded_shuffle(docs):
    """VERDICT r04 next #6: the LSH candidate generation must be ONE
    exploded band self-join (like hamming_pairs' pigeonhole join), not one
    join per band — b shuffle stages collapse to a single (band, key)
    shuffle. hamming_pairs runs the same band self-join and is held to the
    same shape."""
    import io
    from contextlib import redirect_stdout

    # the candidate stage is checkpointed inside minhash_lsh_pairs (its
    # bounded output feeds two consumers), which cuts it out of the final
    # explain — gate the stage's own plan via the extracted builder
    lsh = dedup._lsh_band_candidates(dedup.minhash_signatures(docs), 32, 8, "doc_id", "xxhash64")
    ham = dedup.hamming_pairs(dedup.simhash64(docs), "simhash")
    for df in (lsh, ham):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="simple")
        plan = buf.getvalue()
        band_joins = [
            ln for ln in plan.splitlines() if "Join" in ln and "_v" in ln
        ]
        assert len(band_joins) == 1, plan


def test_ngram_jaccard_leaves_no_cache_entry(spark, docs):
    """The shingle index is an eager localCheckpoint, not a cache(): after
    a call (default cap, no cap, or a cap that drops shingles) the
    session's cache manager holds nothing."""
    spark.catalog.clearCache()
    raw = spark.createDataFrame(docs.collect(), docs.schema)
    cm = spark._jsparkSession.sharedState().cacheManager()
    dedup.ngram_jaccard_pairs(raw, 0.7).collect()
    dedup.ngram_jaccard_pairs(raw, 0.7, max_shingle_df=None).collect()
    with pytest.warns(UserWarning, match="dropping"):
        dedup.ngram_jaccard_pairs(raw, 0.7, max_shingle_df=1).collect()
    assert cm.isEmpty()


def test_curate_near_elects_cluster_keepers(docs):
    """curate_near (gates -> LSH -> components -> keeper election): with
    the gates held open, every planted near-dup pair collapses to its
    min-id keeper carrying the cluster size; untouched docs survive as
    singletons. Value-level equality vs the independent chained DuckDB
    oracle is covered by the doc_curate_near contract entry."""
    out = {
        r["doc_id"]: r["n_near_dups"]
        for r in dedup.curate_near(
            docs, min_alpha=0.0, max_repetition=1.0, threshold=0.7
        ).collect()
    }
    pair_rows = dedup.minhash_lsh_pairs(docs, 0.7).collect()
    paired = {r["d1"] for r in pair_rows} | {r["d2"] for r in pair_rows}
    for j, src in enumerate([3, 17, 42, 99]):
        assert 1000 + j not in out and out[src] >= 2
    assert 2000 not in out and out[7] >= 2
    # survivor count: singletons + one keeper per connected component
    parent: dict = {}

    def find(a):
        while parent.get(a, a) != a:
            a = parent.get(a, a)
        return a

    for r in pair_rows:
        ra, rb = find(r["d1"]), find(r["d2"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {find(d) for d in paired}
    assert len(out) == docs.count() - len(paired) + len(comps)
    for d in out:
        if d not in paired:
            assert out[d] == 1


def test_curate_near_gate_stage_has_no_shuffle(docs):
    """The gate (+sample) stage of the curate pipelines must stay a pure
    projection+filter — zero Exchange before the dedup machinery."""
    import io
    from contextlib import redirect_stdout

    gated = dedup._quality_gated(
        docs, "doc_id", "text", 0.3, 0.4, 2, 0.8, 1
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        gated.explain(mode="simple")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curate_near_job_budget(spark, docs):
    """One curate_near collect runs a bounded number of Spark jobs: 14 at
    4 and 8 cores (15 with a second gate pass and two cluster joins in the
    election, 38 with the exploded-shingle verify and per-round label
    propagation). A per-round loop coming back adds jobs per round and
    fails the ceiling."""
    docs.count()  # the fixture's cache build is not curate_near's
    rows, jobs = _jobs(spark, "curate_near_job_budget", lambda: dedup.curate_near(
        docs, min_alpha=0.0, max_repetition=1.0, threshold=0.7
    ).collect())
    assert rows and jobs <= 14, jobs


def _jobs(spark, group, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df, mode="formatted"):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.mark.parametrize("hasher", ["xxhash64", "md5"])
def test_curate_near_short_gated_doc_survives(spark, docs, hasher):
    """A doc that passes the gates with fewer than shingle_n tokens has no
    signature and no band: it reaches the election as a singleton
    (n_near_dups = 1), and so does its exact copy."""
    short = spark.createDataFrame(
        [(3000, "alpha beta"), (3001, "alpha beta")], docs.schema
    )
    out = {
        r["doc_id"]: r["n_near_dups"]
        for r in dedup.curate_near(
            docs.unionByName(short), min_alpha=0.0, max_repetition=1.0,
            threshold=0.7, hasher=hasher,
        ).collect()
    }
    assert out[3000] == 1 and out[3001] == 1
    assert 2000 not in out and out[7] >= 2


def test_curate_near_election_reads_only_checkpoints(docs):
    """The frame curate_near returns reads the signature checkpoint (which
    carries the gate metrics) and the cluster table, never the docs: the
    gate runs once per doc."""
    out = dedup.curate_near(docs, min_alpha=0.0, max_repetition=1.0, threshold=0.7)
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
    assert "LogicalRDD" in names and names <= {"LogicalRDD", "LocalRelation"}, names


def test_curate_near_never_shuffles_text(spark, docs, monkeypatch):
    """No Exchange of any curate_near job carries the text column: the
    candidate semi-join broadcasts the counted-small candidate ids, so the
    docs keep their partitions, and nothing after it reads the text. The
    jobs are the checkpoints, the cluster collect over the pairs and the
    final action."""
    frames = []
    real_mat, real_clusters = dedup.materialize, dedup.dedup_clusters

    def mat(df, **metrics):
        frames.append(df)
        return real_mat(df, **metrics)

    def clusters(pairs, *a, **k):
        frames.append(pairs)
        return real_clusters(pairs, *a, **k)

    monkeypatch.setattr(dedup, "materialize", mat)
    monkeypatch.setattr(dedup, "dedup_clusters", clusters)
    frames.append(dedup.curate_near(docs, min_alpha=0.0, max_repetition=1.0, threshold=0.7))
    assert len(frames) == 5
    for df in frames:
        plan = _plan(df)
        for node in plan.split("\n\n"):
            head = node.strip().splitlines()[0] if node.strip() else ""
            if "Exchange" in head and not head.startswith("+-"):
                assert "text#" not in node, node


def test_set_verify_intersects_once(spark):
    """The verify evaluates array_intersect once per pair: behind the
    single-element explode, the filters and the jaccard read its count.
    The second side's sizes join after it, so the jaccard filter is that
    join's condition and the verified pairs are one join node's output
    rows (perfbench's tracing fold counts dedup.lsh.verified_pairs off
    it)."""
    src = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w")], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "d1 long, d2 long")
    out = dedup._set_jaccard(cand, src, "doc_id", "text", 3, 0.2)
    plan = _plan(out, "simple")
    assert plan.count("array_intersect(") == 1
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "_nb#" in ln and " >= " in ln]
    assert len(joins) == 1, plan
    assert [tuple(r) for r in out.collect()] == [(1, 2, 0.5)]


def test_set_verify_unbroadcast_same_rows(spark, docs, monkeypatch):
    """With the counted broadcasts off (``RESIDUE_BROADCAST_ROWS = 0``) and
    the planner's own broadcasts off, the candidate semi-join and every
    verify join take their shuffled plans, the ones a corpus over the
    bound takes. _set_jaccard, minhash_lsh_pairs and curate_near return
    the same rows as on the default (broadcast) path."""
    from maskmypy_spark.operators import knn

    def runs():
        sig = dedup.materialize(dedup.minhash_signatures(docs))
        cand = dedup._lsh_band_candidates(sig, 32, 8, "doc_id", "xxhash64")
        verify = dedup._set_jaccard(cand, docs, "doc_id", "text", 3, 0.5)
        return _plan(verify), [
            sorted(verify.collect()),
            sorted(dedup.minhash_lsh_pairs(docs, 0.5, hasher="md5").collect()),
            sorted(dedup.curate_near(
                docs, min_alpha=0.0, max_repetition=1.0, threshold=0.7
            ).collect()),
        ]

    default_plan, default = runs()
    assert "BroadcastHashJoin" in default_plan
    monkeypatch.setattr(knn, "RESIDUE_BROADCAST_ROWS", 0)
    conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled_plan, shuffled = runs()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
    assert "Broadcast" not in shuffled_plan and "SortMergeJoin" in shuffled_plan
    assert all(default) and shuffled == default


def test_ngram_jaccard_auto_cap_runs_no_count_job(spark, docs):
    """max_shingle_df="auto" reads the corpus size off the shingle
    checkpoint's own job: it runs as many jobs as the same cap given (9;
    11 with a separate count), with identical pairs."""
    docs.count()  # the fixture's cache build is not the call's
    auto, n_auto = _jobs(spark, "ngram_auto", lambda: dedup.ngram_jaccard_pairs(docs, 0.7).collect())
    given, n_given = _jobs(
        spark, "ngram_given", lambda: dedup.ngram_jaccard_pairs(docs, 0.7, max_shingle_df=4096).collect()
    )
    assert sorted(auto) == sorted(given) and len(auto) >= 5
    assert n_auto == n_given <= 9, (n_auto, n_given)


def test_simhash_hamming_close_for_neardups(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(sh[7], sh[2000]) == 0  # exact dup
    planted = [ham(sh[s], sh[1000 + j]) for j, s in enumerate([3, 17, 42, 99])]
    assert max(planted) <= 8
    rs = np.random.RandomState(0)
    ids = [i for i in sh if i < 1000]
    rand = [ham(sh[a], sh[b]) for a, b in zip(rs.choice(ids, 30), rs.choice(ids, 30)) if a != b]
    assert np.mean(rand) > 12  # unrelated docs are far


def test_simhash_xxhash64_matches_python_votes(docs):
    """Default-hasher SimHash by value: rebuilt in Python from Spark's
    per-token xxhash64 — one +1/-1 vote per bit per token, bit i set iff
    its vote sum is positive, bit 63 the sign bit."""
    from pyspark.sql import functions as F

    toks = (
        docs.select("doc_id", F.explode(dedup.tokens_col("text")).alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .collect()
    )
    votes: dict = {}
    for r in toks:
        v = votes.setdefault(r["doc_id"], [0] * 64)
        for i in range(64):
            v[i] += 1 if (r["h"] >> i) & 1 else -1
    want = {}
    for d, v in votes.items():
        u = sum(1 << i for i in range(64) if v[i] > 0)
        want[d] = u - (1 << 64) if u >> 63 else u
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert got == want
    assert any(s < 0 for s in got.values())  # bit 63 is exercised


def test_simhash_md5_mode_semantics(docs):
    """md5-mode sketch: 60-bit range, exact dup => hamming 0, planted
    near-dups close, unrelated docs far (same contract as xxhash64 mode)."""
    sh = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash64(docs, hasher="md5").collect()
    }
    assert all(0 <= v < (1 << 60) for v in sh.values())

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sh[7], sh[2000]) == 0
    planted = [ham(sh[s], sh[1000 + j]) for j, s in enumerate([3, 17, 42, 99])]
    assert max(planted) <= 8
    rs = np.random.RandomState(0)
    ids = [i for i in sh if i < 1000]
    rand = [ham(sh[a], sh[b]) for a, b in zip(rs.choice(ids, 30), rs.choice(ids, 30)) if a != b]
    assert np.mean(rand) > 12


def test_simhash_pairs_banded_join_is_exact_at_threshold(docs):
    """The banded hamming join has NO false negatives (pigeonhole): it must
    return exactly the pairs a brute-force hamming scan finds."""
    t = 8
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    ids = sorted(sh)
    want = {
        (a, b, ham(sh[a], sh[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(sh[a], sh[b]) <= t
    }
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in dedup.simhash_pairs(docs, max_hamming=t, bands=t + 1).collect()
    }
    assert got == want and len(got) >= 5  # exact dup + 4 planted


def test_dedup_clusters_recovers_planted_components(spark):
    """Chain A-B-C + pair D-E + isolated pair resolve to min-id clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (3, 4)], "d1 long, d2 long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


@pytest.mark.parametrize(
    "name", ["planted", "chain", "star", "clique", "strings", "random", "empty"]
)
def test_dedup_clusters_local_path_equals_propagation(spark, monkeypatch, name):
    """The driver-side union-find and the label propagation (forced by an
    edge bound of 0) return identical rows and schema on chains, stars,
    cliques, string keys (image_dedup's shape), a random graph and an
    empty pair frame."""
    edges, schema = {
        "planted": ([(1, 2), (2, 3), (10, 11), (20, 21), (3, 4)], "d1 long, d2 long"),
        # descending ids: the minimum sits at the far end of a 40-hop chain
        "chain": ([(i - 1, i) for i in range(40, 0, -1)], "d1 long, d2 long"),
        "star": ([(0, i) for i in range(1, 30)] + [(5, 99)], "d1 int, d2 int"),
        "clique": (
            [(i, j) for i in range(7, 14) for j in range(i + 1, 14)],
            "d1 long, d2 long",
        ),
        "strings": (
            [("img_b", "img_a"), ("img_c", "img_b"), ("img_z", "img_y"), ("Z", "é")],
            "d1 string, d2 string",
        ),
        # 110 random edges over ids < 120 (self-loops included): several
        # hooking rounds, components of many sizes
        "random": (
            [tuple(map(int, e)) for e in np.random.RandomState(3).randint(0, 120, (110, 2))],
            "d1 long, d2 long",
        ),
        "empty": ([], "d1 long, d2 long"),
    }[name]
    pairs = spark.createDataFrame(edges, schema)
    local = dedup.dedup_clusters(pairs)
    monkeypatch.setattr(dedup, "LOCAL_COMPONENT_EDGES", 0)
    prop = dedup.dedup_clusters(pairs, max_iter=100)
    assert local.schema == prop.schema
    assert [f.name for f in local.schema] == ["doc_id", "cluster_id"]
    got, want = sorted(local.collect()), sorted(prop.collect())
    assert got == want
    nodes = {x for e in edges for x in e}
    assert {r["doc_id"] for r in got} == nodes
    if name == "chain":
        assert {r["cluster_id"] for r in got} == {0}
    if name == "strings":
        assert dict(got)["img_c"] == "img_a" and dict(got)["é"] == "Z"


def _explode_verify(cand, src, threshold, key="doc_id", text="text", n=3):
    """The shingle-row verify minhash_lsh_pairs ran before per-doc sets:
    the candidate docs' distinct shingles as rows, |A ∩ B| counted by a
    join on the shingle string (dedup._jaccard)."""
    from pyspark.sql import functions as F

    cd = (
        cand.select(F.col("d1").alias(key))
        .unionByName(cand.select(F.col("d2").alias(key)))
        .distinct()
    )
    shc = dedup.shingles(src.join(cd, key, "leftsemi"), key, text, n)
    a = shc.select(F.col(key).alias("d1"), "shingle")
    b = shc.select(F.col(key).alias("d2"), "shingle")
    return dedup._jaccard(
        a.join(cand, "d1").join(b, ["shingle", "d2"]), shc, key, threshold
    )


def test_set_verify_equals_explode_verify(spark):
    """The per-doc shingle-set verify returns exactly the rows of the
    exploded-shingle join: a repeated trigram counts once, a candidate
    pair sharing no shingle is absent even at threshold 0.0, and docs
    under n tokens or with NULL text score nothing."""
    src = spark.createDataFrame(
        [
            (1, "a b c a b c a b c d"),  # {abc, bca, cab, bcd}; abc x3
            (2, "a b c d e"),  # {abc, bcd, cde}
            (3, "x y z w"),  # shares nothing with 1 or 2
            (4, "p q"),  # under n tokens
            (5, None),
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (4, 5), (3, 5)], "d1 long, d2 long"
    )
    for threshold in (0.0, 0.4, 0.41):
        got = sorted(dedup._set_jaccard(cand, src, "doc_id", "text", 3, threshold).collect())
        want = sorted(_explode_verify(cand, src, threshold).collect())
        assert got == want, threshold
        # |{abc, bcd}| / |{abc, bca, cab, bcd, cde}| = 2 / 5
        assert [tuple(r) for r in got] == ([(1, 2, 0.4)] if threshold <= 0.4 else [])


def test_set_verify_md5_matches_oracle(spark):
    """hasher='md5' candidates over the contract documents: the set verify
    equals the explode-join verify and the dedup_minhash_lsh DuckDB
    oracle."""
    from maskmypy_spark.plans import contract
    from maskmypy_spark.sources import tables
    from test_contract import SF, _duck, _norm

    docs_sf = tables.load(spark, SF, "documents")
    sig = dedup.minhash_signatures(docs_sf, 32, hasher="md5")
    cand = dedup._lsh_band_candidates(sig, 32, 8, "doc_id", "md5")
    t = contract.JACCARD_T
    got = sorted(dedup._set_jaccard(cand, docs_sf, "doc_id", "text", 3, t).collect())
    assert got == sorted(_explode_verify(cand, docs_sf, t).collect())
    _, sql = contract.build()["dedup_minhash_lsh"]
    con = _duck()
    want = _norm(con.sql(sql).fetchall())
    assert len(want) > 0 and _norm([tuple(r) for r in got]) == want


def test_fingerprint_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: two docs sharing a run of >= k + window - 1
    tokens share at least one fingerprint; unrelated docs share none."""
    import pandas as pd

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= 3+4-1=6
    rows = [
        (0, "intro words here " + shared + " tail one"),
        (1, "completely different opening " + shared),
        (2, "no overlap at all with anything else whatsoever in here"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    fp = dedup.fingerprint_winnow(df)
    sets = {}
    for r in fp.collect():
        sets.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert sets[0] & sets[1]
    assert not (sets[0] & sets[2]) and not (sets[1] & sets[2])


def test_embed_quantize_reconstruction(spark):
    """int8 quantization: codes within [-127, 127], reconstruction error
    <= scale/2 + float32 ulp per component, zero vectors -> scale 0."""
    import numpy as np

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-2.5, 2.5, 1.25, -1.25]),
        (3, [1e-6, -1e-6, 5e-7, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in dedup.embed_quantize(df).collect()}
    assert got[1]["scale"] == 0.0 and got[1]["q"] == [0, 0, 0, 0]
    for vid, vec in rows:
        r = got[vid]
        assert all(-127 <= c <= 127 for c in r["q"]), vid
        scale = max(abs(v) for v in vec) / 127.0
        for v, c in zip(vec, r["q"]):
            assert abs(v - c * scale) <= scale / 2 + 1e-7, (vid, v, c)


def test_doc_repetition_planted(spark):
    """Gopher repetition signal: hand-computable duplicate-bigram
    fractions, 0.0 for degenerate docs (NULL/empty/single-token)."""
    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 2/5 distinct
            (1, "one two three four"),  # all distinct -> 0.0
            (2, "spam spam spam spam spam"),  # 4 bigrams, 1 distinct -> 0.75
            (3, None),
            (4, ""),
            (5, "single"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["dup_ngram_frac"] for r in dedup.doc_repetition(df).collect()}
    assert got == {0: 0.6, 1: 0.0, 2: 0.75, 3: 0.0, 4: 0.0, 5: 0.0}


def test_grams_sql_short_docs_need_no_guard(spark):
    """_grams_sql returns a typed empty array for token arrays under n
    (0, 1 and n-1 tokens) and for NULL, with no outside filter; the
    shingle, fingerprint and gate consumers run over such docs with
    codegen fallback disabled."""
    from pyspark.sql import functions as F

    toks = spark.createDataFrame(
        [(0, []), (1, ["a"]), (2, ["a", "b"]), (3, None), (4, ["a", "b", "c", "d"])],
        "doc_id long, _t array<string>",
    )
    grams = toks.select("doc_id", F.expr(dedup._grams_sql("_t", 3)).alias("g"))
    assert grams.schema["g"].dataType.simpleString() == "array<string>"
    assert {r["doc_id"]: r["g"] for r in grams.collect()} == {
        0: [], 1: [], 2: [], 3: [], 4: ["a b c", "b c d"]
    }
    texts = spark.createDataFrame(
        [(0, ""), (1, "a"), (2, "a b"), (3, None), (4, "a b c d")],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert sorted(tuple(r) for r in dedup.shingles(texts).collect()) == [
            (4, "a b c"), (4, "b c d")
        ]
        assert {r["doc_id"] for r in dedup.fingerprint_winnow(texts).collect()} == {4}
        gated = dedup._quality_gated(texts, "doc_id", "text", 1.0, 0.0, 3, None, 1)
        assert {r["doc_id"]: r["dup_ngram_frac"] for r in gated.collect()} == {
            1: 0.0, 2: 0.0, 4: 0.0
        }
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_curate_pipeline_semantics(spark):
    """curate(): repetitious docs and symbol soup drop at the gates, exact
    duplicates elect min-key keepers, NULL/empty text drops, and the whole
    pipeline shows exactly one Exchange (the digest window) in the plan."""
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # dup of 0
            (2, "spam spam spam spam spam spam"),                # repetitious
            (3, "$$$ 123 &&& 456 ::: 789 %%%"),                  # low alpha
            (4, "a genuinely fine unique document here"),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dedup.curate(df).collect()}
    assert got == {0, 4}

    plan_buf = io.StringIO()
    with redirect_stdout(plan_buf):
        dedup.curate(df).explain(mode="formatted")
    plan = plan_buf.getvalue()
    assert plan.count("(1) Exchange") + plan.count(") Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # deterministic sampling: same seed same survivors, rate=0 drops all
    a = {r["doc_id"] for r in dedup.curate(df, sample_rate=0.7, seed=5).collect()}
    b = {r["doc_id"] for r in dedup.curate(df, sample_rate=0.7, seed=5).collect()}
    assert a == b
    assert dedup.curate(df, sample_rate=0.0).count() == 0


def test_doc_repetition_random_vs_python(spark):
    """doc_repetition vs an independent Python computation over 40 random
    word soups (skewed vocab so duplicates actually occur), n in {2, 3}."""
    import numpy as np

    rs = np.random.RandomState(11)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    rows = [
        (i, " ".join(rs.choice(vocab, size=rs.randint(1, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        got = {
            r["doc_id"]: r["dup_ngram_frac"]
            for r in dedup.doc_repetition(df, n=n).collect()
        }
        for i, text in rows:
            toks = text.split()
            grams = [
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            ]
            want = (
                round(1.0 - len(set(grams)) / len(grams), 6) if grams else 0.0
            )
            assert got[i] == want, (n, i, text)


def test_language_id_profiles(spark):
    import pandas as pd

    rows = [
        (0, "the cat sat on the mat and the dog is in the house"),
        (1, "der hund ist nicht in das haus und die katze"),
        (2, "le chat est dans la maison et les chiens pour le parc"),
        (3, "el perro es una mascota con los gatos para la casa del pueblo"),
        (4, "xyzzy plugh qwerty asdf"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["language"] for r in dedup.language_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_language_id_null_and_empty_text(spark):
    """NULL/empty text => ('und', 0.0) on BOTH engines (ADVICE r02: the
    oracle's CASE without ELSE used to yield NULL language for NULL text)."""
    import duckdb

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   ")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["language"], r["score"])
        for r in dedup.language_id(df).collect()
    }
    assert got == {0: ("und", 0.0), 1: ("und", 0.0), 2: ("und", 0.0)}

    from maskmypy_spark.plans import contract

    _q, sql = contract.build()["doc_language"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, NULL), (1, ''), (2, '   ')) t(doc_id, text)"
    )
    want = {r[0]: (r[1], r[2]) for r in con.sql(sql).fetchall()}
    assert want == got


def test_cosine_nn_exact_vs_numpy(spark):
    rs = np.random.RandomState(6)
    vecs = rs.standard_normal((80, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(80), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    got = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    np.fill_diagonal(sims, -np.inf)
    for i in range(80):
        assert got[i] == int(sims[i].argmax())


def test_cosine_nn_lsh_recall(spark):
    """Hyperplane LSH recalls CLOSE neighbors (its contract): clustered
    embeddings where each vector's true NN is in its own tight cluster."""
    rs = np.random.RandomState(8)
    centers = rs.standard_normal((20, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = rs.randint(0, 20, 200)
    vecs = (centers[idx] + 0.1 * rs.standard_normal((200, 16))).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf).cache()
    exact = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    rows = dedup.cosine_nn_lsh(emb, planes=8, tables=6).collect()
    approx = {r["vec_id"]: r["nn_id"] for r in rows}
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits / len(exact) >= 0.8  # high recall on genuinely-near pairs
    # each returned score is the exact cosine of its (vec_id, nn_id) pair
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for r in rows:
        assert abs(r["cos"] - float(v[r["vec_id"]] @ v[r["nn_id"]])) <= 1e-6


def test_ivf_cosine_nn_recall(spark):
    """IVF index (hash-seeded centroids + Lloyd via DataFrame aggs +
    n_probe candidate lists) recalls clustered neighbors like LSH does."""
    rs = np.random.RandomState(12)
    centers = rs.standard_normal((8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = rs.randint(0, 8, 160)
    vecs = (centers[idx] + 0.01 * rs.standard_normal((160, 32))).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(160), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf).cache()
    exact = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    approx = {
        r["vec_id"]: r["nn_id"]
        for r in dedup.ivf_cosine_nn(emb, n_centroids=8, n_probe=2).collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits / len(exact) >= 0.9
    # determinism: same seed -> identical assignments
    again = {
        r["vec_id"]: r["nn_id"]
        for r in dedup.ivf_cosine_nn(emb, n_centroids=8, n_probe=2).collect()
    }
    assert approx == again


def test_cosine_nn_lsh_high_dim(spark):
    """Regression: hyperplanes ship as a broadcast plane table — at dim=512
    the old inlined-literal rendering (~25k literals/expression) blew
    Catalyst analysis. Recall contract still holds."""
    rs = np.random.RandomState(9)
    centers = rs.standard_normal((10, 512))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = rs.randint(0, 10, 60)
    # per-dim noise sigma scaled so the noise VECTOR stays small vs the
    # unit center (0.002 * sqrt(512) ~ 0.045)
    vecs = (centers[idx] + 0.002 * rs.standard_normal((60, 512))).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf).cache()
    exact = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn(emb).collect()}
    approx = {r["vec_id"]: r["nn_id"] for r in dedup.cosine_nn_lsh(emb, planes=10, tables=6).collect()}
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits / len(exact) >= 0.8


def test_decontaminate_planted_dup(docs):
    """The fixture's exact duplicate pair (7, 2000) spans the even/odd
    split: train doc 2000 must be flagged as contaminated by eval doc 7."""
    out = {
        r["doc_id"]: (r["n_test_docs"], r["n_shared_ngrams"])
        for r in dedup.decontaminate(
            docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), n=5
        ).collect()
    }
    assert 2000 in out
    assert out[2000][0] >= 1 and out[2000][1] >= 1


def test_hash_sample_deterministic_and_partition_independent(docs):
    a = {r["doc_id"] for r in dedup.hash_sample(docs, 0.3, seed=5).collect()}
    b = {r["doc_id"] for r in dedup.hash_sample(docs.repartition(13), 0.3, seed=5).collect()}
    c = {r["doc_id"] for r in dedup.hash_sample(docs, 0.3, seed=6).collect()}
    assert a == b and a != c
    assert 0.15 < len(a) / docs.count() < 0.45
    # disjoint-seed splits are independent draws, not complements
    assert a & c and (a - c)


def test_scrub_pii_redacts_planted_strings(spark):
    import pandas as pd

    rows = [
        (0, "write to alice.smith+x@corp.example.org today"),
        (1, "server at 192.168.10.7 answered"),
        (2, "call +1 604 555 0199 or 604-555-0111 now"),
        (3, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["text"] for r in dedup.scrub_pii(df).collect()}
    assert "[EMAIL]" in got[0] and "@" not in got[0]
    assert "[IP]" in got[1] and "192.168" not in got[1]
    assert "[PHONE]" in got[2] and "0199" not in got[2] and "0111" not in got[2]
    assert got[3] == rows[3][1]
