"""Unit tests for the LLM-data-pipeline operators (dedup, similarity,
text analysis, multimodal plumbing) on tiny in-memory data."""

import contextlib
import math
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F

from rdf_fusion_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different words entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_text_stats(docs):
    r = {row["doc_id"]: row
         for row in text.with_text_stats(docs).collect()}
    assert r[0]["n_words"] == 9
    assert r[0]["n_distinct_words"] == 8  # 'the' twice
    assert r[0]["n_tokens"] == 9
    assert r[0]["fingerprint"] == r[3]["fingerprint"]
    assert r[0]["fingerprint"] != r[1]["fingerprint"]
    assert abs(r[2]["avg_word_len"] - 39 / 6.0) < 1e-9


def test_language_id(docs):
    r = {row["doc_id"]: row["lang_pred"]
         for row in text.with_language_id(docs).collect()}
    assert r[0] == "en"  # 'the' twice out of 9 words
    assert r[2] == "und"


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    by_canon = {g["canonical_id"]: g["n_copies"] for g in groups}
    assert by_canon[0] == 2  # docs 0 and 3
    assert by_canon[1] == 1
    assert len(groups) == 3


def test_content_key_fused_equals_unfused(docs, spark):
    """content_key_dedup_groups (one scan + one shuffle, r11 opt) must be
    row-for-row identical to the unfused 4-branch union it replaced —
    including the fingerprint variant's n_docs >= 2 gate."""
    # richer corpus: normalization dups, punctuation, multi-space runs
    rows = [
        (10, "Hello,   World!"),
        (11, "hello world"),
        (12, "hello world"),
        (13, "world hello"),   # same word bag, different order
        (14, "unrelated text"),
    ]
    extra = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus = docs.unionByName(extra)
    fused = dedup.content_key_dedup_groups(corpus)

    a = dedup.exact_dedup_groups(corpus).select(
        F.lit("exact").alias("variant"), F.col("text_hash").alias("hash"),
        F.col("n_copies").cast("long").alias("n_docs"), "canonical_id")
    b = dedup.normalized_dedup_groups(corpus).select(
        F.lit("normalized").alias("variant"),
        F.col("norm_hash").alias("hash"),
        F.col("n_docs").cast("long").alias("n_docs"), "canonical_id")
    c = dedup.fingerprint_dedup_groups(corpus).select(
        F.lit("fingerprint").alias("variant"),
        F.col("fingerprint").alias("hash"),
        F.col("n_docs").cast("long").alias("n_docs"), "canonical_id")
    d = (text.with_rolling_fingerprint(corpus)
         .groupBy("rolling_fp")
         .agg(F.count("*").cast("long").alias("n_docs"),
              F.min("doc_id").alias("canonical_id"))
         .select(F.lit("rolling_fp").alias("variant"),
                 F.col("rolling_fp").cast("string").alias("hash"),
                 "n_docs", "canonical_id"))
    unfused = a.unionByName(b).unionByName(c).unionByName(d)

    assert sorted(map(tuple, fused.collect())) \
        == sorted(map(tuple, unfused.collect()))
    assert fused.schema == unfused.schema


def test_jaccard_and_minhash_agree(docs):
    """LSH candidates verified with exact Jaccard must be a subset of the
    brute-force pairs at the same threshold, and catch the obvious dup."""
    brute = {(r["id_a"], r["id_b"])
             for r in dedup.jaccard_pairs(docs, 0.5).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()}
    assert (0, 3) in lsh  # identical docs always collide in every band
    assert lsh <= brute


def test_simhash_identity(docs):
    r = {row["id"]: row["simhash"] for row in dedup.simhash(docs).collect()}
    assert r[0] == r[3]
    assert r[0] != r[2]
    assert 0 <= r[0] < (1 << dedup.SIMHASH_BITS)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # antipode of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(vectors):
    out = similarity.cosine_topk(
        vectors, vectors.where(F.col("vec_id") == 0), k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]
    assert abs(out[0]["cosine"] - 0.9 / math.hypot(0.9, 0.1)) < 1e-9


def test_lsh_bucket_topk(vectors):
    out = similarity.lsh_bucket_topk(
        vectors, vectors.where(F.col("vec_id") == 0), k=3,
        bits=3, num_tables=2, dim=3).collect()
    ids = {r["neighbor_id"] for r in out}
    # vec 3 is the antipode of vec 0: proj(-x) = -proj(x), so its sign
    # pattern is the complement in EVERY table — never a candidate
    assert 3 not in ids
    assert 1 in ids


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "image", bytearray(b"\x01\x02\x03\x04"), "image/png",
         2, 2, None, None),
        (1, "audio", bytearray(b"\x10" * 100), "audio/wav",
         None, None, 16000, 2000),
        (2, "video", bytearray(b"\xff" * 10), "video/mp4",
         8, 8, None, 3500),
        (3, "image", None, "image/png", None, None, None, None),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_multimodal_features(media):
    out = {r["media_id"]: r for r in multimodal.extract_features(
        media, batch_decoder=multimodal.deterministic_fake_decoder).collect()}
    assert out[0]["n_bytes"] == 4
    assert out[0]["feature"] == [4.0, 2.5, 1.0, 4.0]
    assert out[1]["feature"][0] == 100.0
    assert out[3]["feature"] is None and out[3]["n_bytes"] is None
    assert len(out) == 4


def test_multimodal_default_decoder_is_stub(media):
    with pytest.raises(Exception):
        multimodal.extract_features(media.limit(1)).collect()


def test_frame_sample_plan(media):
    rows = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    assert sorted(r["frame_ts_ms"] for r in rows) == [0, 1000, 2000, 3000]
    assert all(r["media_id"] == 2 for r in rows)


def test_resize_images(media):
    out = {r["media_id"]: r for r in multimodal.resize_images(
        media, 3, 2, resizer=multimodal.deterministic_fake_resizer).collect()}
    # image rows: payload re-encoded to w*h bytes, metadata updated
    assert len(out[0]["payload"]) == 6
    assert bytes(out[0]["payload"]) == b"\x01\x02\x03\x04\x01\x02"
    assert (out[0]["width"], out[0]["height"]) == (3, 2)
    # NULL image payload stays NULL (resizer contract), metadata still set
    assert out[3]["payload"] is None
    # non-image rows pass through untouched
    assert len(out[1]["payload"]) == 100 and out[1]["sample_rate"] == 16000
    assert (out[2]["width"], out[2]["height"]) == (8, 8)


def test_resize_default_resizer_is_stub(media):
    with pytest.raises(Exception):
        multimodal.resize_images(media.limit(1), 3, 2).collect()


def test_repartition_by_bytes(media):
    df = multimodal.repartition_by_bytes(media, target_bytes=50)
    assert df.rdd.getNumPartitions() >= 2
    assert df.count() == 4


def test_dup_clusters_components(spark):
    """Connected components over pair edges: chain merges transitively,
    singletons self-cluster, min id is canonical."""
    from rdf_fusion_spark.pipeline.dedup import dup_clusters

    docs = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "doc_id string")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string")
    got = {r["id"]: (r["cluster_id"], r["is_canonical"])
           for r in dup_clusters(pairs, docs).collect()}
    assert got == {"a": ("a", True), "b": ("a", False), "c": ("a", False),
                   "d": ("d", True), "e": ("d", False)}


def test_chunk_documents_overlap(spark):
    from rdf_fusion_spark.pipeline.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([("d1", words), ("d2", "solo"), ("d3", "")],
                                 "doc_id string, text string")
    out = {(r["doc_id"], r["chunk_idx"]): (r["n_chunk_words"], r["chunk_text"])
           for r in chunk_documents(docs, chunk_size=4, overlap=2).collect()}
    # stride 2: starts 0,2,4,6 cover all 10 words with 2-word overlap
    assert out[("d1", 0)] == (4, "w0 w1 w2 w3")
    assert out[("d1", 1)] == (4, "w2 w3 w4 w5")
    assert out[("d1", 3)] == (4, "w6 w7 w8 w9")
    assert ("d1", 4) not in out
    assert out[("d2", 0)] == (1, "solo")
    # empty text still yields one chunk of the single empty split token,
    # matching the split semantics the rest of the pipeline uses
    assert ("d3", 0) in out


def test_decontaminate_flags_overlap(spark):
    from rdf_fusion_spark.pipeline import curation
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(0, "alpha beta gamma delta zeta eta theta"),   # shares 2 of 5 grams
         (1, "iota kappa lam mu nu xi omicron"),          # shares none
         (2, "xx yy")],                                   # shorter than n=3
        ["doc_id", "text"])
    r = {row["doc_id"]: row for row in
         curation.decontaminate(train, bench, n=3, threshold=0.3).collect()}
    assert r[0]["n_ngrams"] == 5 and r[0]["n_hits"] == 2
    assert r[0]["is_contaminated"]  # 2/5 >= 0.3
    assert r[1]["n_hits"] == 0 and not r[1]["is_contaminated"]
    assert r[2]["n_ngrams"] == 0 and r[2]["n_hits"] == 0


def test_pack_shards_budget_and_coverage(spark):
    from rdf_fusion_spark.pipeline import curation
    rows = [(i, 100 + i) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    packs = curation.pack_shards(docs, budget=300, num_shards=4).collect()
    # every doc lands in exactly one pack
    assert sum(p["n_docs"] for p in packs) == 40
    by_key = {(p["shard"], p["pack_id"]): p for p in packs}
    for (shard, pack_id), p in by_key.items():
        # greedy fill: a pack only exceeds the budget by its last doc,
        # so tokens-before-last-doc < budget
        assert p["total_tokens"] - (100 + p["last_doc"]) < 300
        # packs are contiguous per shard: pack ids are dense from 0
        if pack_id > 0:
            assert (shard, pack_id - 1) in by_key


def test_weighted_sample_deterministic_and_calibrated(spark):
    from rdf_fusion_spark.pipeline import curation
    docs = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    a = curation.weighted_sample(docs, F.lit(0.5)).where("sample_keep")
    b = curation.weighted_sample(docs, F.lit(0.5)).where("sample_keep")
    ka = sorted(r["doc_id"] for r in a.collect())
    kb = sorted(r["doc_id"] for r in b.collect())
    assert ka == kb  # decision is a pure function of the id
    assert 0.45 <= len(ka) / 2000 <= 0.55  # md5 prefix is uniform
    # rate 1.0 keeps everything, rate 0.0 keeps nothing
    assert curation.weighted_sample(docs, F.lit(1.0)) \
        .where("sample_keep").count() == 2000
    assert curation.weighted_sample(docs, F.lit(0.0)) \
        .where("sample_keep").count() == 0


def test_jaccard_pairs_refuses_large_corpus(spark):
    """The all-pairs oracle is guarded, not just documented (r3 verdict #6)."""
    big = spark.range(0, 501).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc number "), F.col("id")).alias("text"))
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        dedup.jaccard_pairs(big, 0.8, max_docs=500)
    # under the cap it still works
    small = big.limit(10)
    dedup.jaccard_pairs(small, 0.8, max_docs=500).collect()


def test_lsh_bucket_cap_bounds_mega_bucket(spark, caplog):
    """A 10k-copy document creates a mega-bucket in EVERY band; the cap
    must bound candidate pairs to ~cap²/2 instead of 10k²/2 ≈ 5·10⁷
    (r3 verdict #2: no multi-hour straggler task)."""
    import logging
    n = 10_000
    dup = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same text repeated in every single copy of this "
              "document corpus").alias("text"))
    distinct_docs = spark.createDataFrame(
        [(n + 1, "an unrelated document about entirely different topics"),
         (n + 2, "another distinct text that shares nothing with others")],
        ["doc_id", "text"])
    corpus = dup.unionByName(distinct_docs)
    cap = 16
    with caplog.at_level(logging.WARNING,
                         logger="rdf_fusion_spark.pipeline.dedup"):
        pairs = dedup.minhash_lsh_pairs(corpus, 0.9, bucket_cap=cap)
        n_pairs = pairs.count()
    # only the first `cap` members (by id) of the mega-cluster pair up
    assert n_pairs == cap * (cap - 1) // 2
    ids = {i for r in pairs.collect() for i in (r["id_a"], r["id_b"])}
    assert ids == set(range(cap))
    # dropped mass is logged, never silent
    assert any("cap were dropped" in m for m in caplog.messages)


def test_simhash_bucket_cap_bounds_mega_bucket(spark, caplog):
    """Identical docs share the full 60-bit fingerprint, so every band
    bucket is a mega-bucket; the cap must bound candidates exactly like
    minhash (round-5 verdict: SimHash had no backstop)."""
    import logging
    n = 5_000
    dup = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same text repeated in every single copy of this "
              "document corpus").alias("text"))
    cap = 16
    with caplog.at_level(logging.WARNING,
                         logger="rdf_fusion_spark.pipeline.dedup"):
        pairs = dedup.simhash_near_dup_pairs(dup, 3, bucket_cap=cap)
        n_pairs = pairs.count()
    assert n_pairs == cap * (cap - 1) // 2
    ids = {i for r in pairs.collect() for i in (r["id_a"], r["id_b"])}
    assert ids == set(range(cap))
    assert any("cap were dropped" in m for m in caplog.messages)


class _PlanNode(NamedTuple):
    name: str
    desc: str
    rows: int | None          # "number of output rows"; None if no metric
    children: list


@contextlib.contextmanager
def _executed_plans(spark):
    """Physical plan graphs of every SQL execution started inside the
    block — eager build jobs (gates, localCheckpoints) as well as the
    final action — read from Spark's SQL status store on exit. Yields a
    list that then holds one {node_id: _PlanNode} per execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def last_id():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() \
            if n else -1

    bus.waitUntilEmpty()
    first = last_id() + 1
    plans = []
    yield plans
    bus.waitUntilEmpty()
    for e in seq(store.executionsList()):
        eid = e.executionId()
        if eid < first:
            continue
        graph, values = store.planGraph(eid), store.executionMetrics(eid)
        nodes = {}
        for n in seq(graph.allNodes()):
            rows = None
            for m in seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows = int(v.get().replace(",", ""))
            nodes[n.id()] = _PlanNode(n.name(), n.desc(), rows, [])
        for edge in seq(graph.edges()):
            nodes[edge.toId()].children.append(edge.fromId())
        plans.append(nodes)


def _input_rows(plan: dict, node_id) -> int:
    """Rows entering a node: the row metric of its nearest descendant
    that has one (Project and similar nodes carry no row metric)."""
    (child,) = plan[node_id].children
    rows = plan[child].rows
    return rows if rows is not None else _input_rows(plan, child)


_DUP_TEXT = ("the exact same text repeated in every single copy of this "
             "document corpus")


@pytest.mark.parametrize("site", ["minhash_lsh_pairs", "dedup_against_index",
                                  "simhash_near_dup_pairs",
                                  "shared_window_pairs"])
def test_bucket_cap_bounds_rows_entering_collect(spark, site):
    """The cap bounds MEMORY, not just candidate pairs: on 5k identical
    docs (every bucket is one 5k-member mega-bucket) at most `cap` rows
    per bucket key enter any collect_list aggregate the operator runs,
    eager build jobs included, so no bucket array ever holds the
    uncapped membership. Read from the executed plans' SQL metrics."""
    n, cap = 5_000, 16
    dup = spark.range(0, n).select(F.col("id").alias("doc_id"),
                                   F.lit(_DUP_TEXT).alias("text"))
    batch = spark.createDataFrame([(10 * n, _DUP_TEXT)],
                                  "doc_id long, text string")
    # site: (call, bucket keys per document, result rows)
    pairs = cap * (cap - 1) // 2
    call, keys, want = {
        "minhash_lsh_pairs": (
            lambda: dedup.minhash_lsh_pairs(dup, 0.9, bucket_cap=cap),
            dedup.NUM_BANDS, pairs),
        "dedup_against_index": (
            lambda: dedup.dedup_against_index(
                batch, dedup.minhash_index(dup), 0.9, bucket_cap=cap),
            dedup.NUM_BANDS, cap),
        "simhash_near_dup_pairs": (
            lambda: dedup.simhash_near_dup_pairs(dup, bucket_cap=cap),
            len(dedup._block_combos()), pairs),
        "shared_window_pairs": (
            lambda: dedup.shared_window_pairs(dup, bucket_cap=cap),
            len(_DUP_TEXT.split()) - dedup.WINDOW_TOKENS + 1, pairs),
    }[site]
    with _executed_plans(spark) as plans:
        assert call().count() == want
    collect_inputs = [_input_rows(p, i) for p in plans
                      for i, node in p.items()
                      if "collect_list(" in node.desc]
    # dedup_against_index joins its capped index rows directly
    assert bool(collect_inputs) == (site != "dedup_against_index")
    assert all(r <= cap * keys for r in collect_inputs), collect_inputs


def test_simhash_banding_recall_within_distance(spark):
    """Pairs at hamming distance ≤ 3 MUST be found via the banded join
    (pigeonhole guarantee) — checked against an all-pairs popcount
    oracle on a corpus of near-identical texts."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    words = base.split()
    rows = [(0, base)]
    # single-word substitutions → small hamming perturbations
    for i in range(1, 9):
        mutated = list(words)
        mutated[i] = f"zz{i}"
        rows.append((i, " ".join(mutated)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r["id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    want = {(a, b) for a in sig for b in sig if a < b
            and bin(sig[a] ^ sig[b]).count("1") <= 3}
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_near_dup_pairs(docs, 3).collect()}
    assert got == want


def test_lsh_bucket_cap_no_effect_below_cap(docs):
    capped = dedup.minhash_lsh_pairs(docs, 0.8)
    uncapped = dedup.minhash_lsh_pairs(docs, 0.8, bucket_cap=None)
    assert sorted(map(tuple, capped.collect())) == \
        sorted(map(tuple, uncapped.collect()))


def test_pagerank_star_graph(spark):
    """Hub-and-spoke: all spokes point at the hub; the hub must dominate
    and ranks must be the closed-form power-iteration values."""
    from rdf_fusion_spark.pipeline.graphs import pagerank
    edges = spark.createDataFrame(
        [(f"n{i}", "hub") for i in range(1, 5)], "src string, dst string")
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=3).collect()}
    n = 5
    spoke = (1 - 0.85) / n          # no in-edges: base only, every round
    hub = (1 - 0.85) / n + 0.85 * 4 * spoke
    assert abs(r["hub"] - hub) < 1e-12
    for i in range(1, 5):
        assert abs(r[f"n{i}"] - spoke) < 1e-12
    assert r["hub"] > max(r[f"n{i}"] for i in range(1, 5))


def test_pagerank_empty_edges(spark):
    from rdf_fusion_spark.pipeline.graphs import pagerank
    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e).count() == 0


def test_triangles_known_graph(spark):
    """One triangle a-b-c plus a pendant edge c-d; reverse/duplicate
    edges and a self-loop must collapse."""
    from rdf_fusion_spark.pipeline.graphs import triangles_per_node
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
         ("c", "d"), ("d", "d")], "src string, dst string")
    got = {r["node"]: r["triangles"]
           for r in triangles_per_node(e).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangles_degree_ordered_matches_bruteforce(spark):
    """The degree-ordered enumeration must agree with an itertools
    brute force on a random graph (seeded), including a hub node."""
    import itertools
    import random
    from rdf_fusion_spark.pipeline.graphs import triangles_per_node
    rng = random.Random(99)
    nodes = [f"n{i}" for i in range(30)]
    edges = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(120)}
    edges |= {tuple(sorted(("hub", n))) for n in nodes[:20]}  # skew
    eset = set(edges)
    want: dict = {}
    allnodes = {x for e in eset for x in e}
    for a, b, c in itertools.combinations(sorted(allnodes), 3):
        if (tuple(sorted((a, b))) in eset and tuple(sorted((b, c))) in eset
                and tuple(sorted((a, c))) in eset):
            for x in (a, b, c):
                want[x] = want.get(x, 0) + 1
    df = spark.createDataFrame(list(eset), "src string, dst string")
    got = {r["node"]: r["triangles"]
           for r in triangles_per_node(df).collect()}
    assert got == want


def test_repetition_ratio_extremes(spark):
    from rdf_fusion_spark.pipeline.text import with_repetition_ratio
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),     # one distinct bigram of 4
         (2, "all words here are unique now"),
         (3, "x")],                           # no bigrams → 0.0
        "doc_id long, text string")
    got = {r["doc_id"]: r["repetition_ratio"]
           for r in with_repetition_ratio(df).collect()}
    assert got[1] == 0.75 and got[2] == 0.0 and got[3] == 0.0


def test_pii_counts_and_redaction(spark):
    from rdf_fusion_spark.pipeline.pii import redact_pii, with_pii_counts
    df = spark.createDataFrame(
        [(1, "mail a.b+c@sub.ex.org and 192.168.0.1 now"),
         (2, "ssn 123-45-6789 phone 555-867-5309 x"),
         (3, "clean text with no identifiers at all"),
         (4, "two mails a@b.io c@d.co one ip 10.0.0.255")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_pii_counts(df).collect()}
    assert (got[1]["pii_email"], got[1]["pii_ipv4"]) == (1, 1)
    # 123-45-6789 is SSN-shaped, NOT phone-shaped (3-2-4 vs 3-3-4)
    assert (got[2]["pii_ssn"], got[2]["pii_phone"]) == (1, 1)
    assert got[3]["pii_total"] == 0
    assert (got[4]["pii_email"], got[4]["pii_ipv4"]) == (2, 1)
    red = {r["doc_id"]: r["redacted"] for r in redact_pii(df).collect()}
    assert red[1] == "mail [EMAIL] and [IP] now"
    assert red[2] == "ssn [SSN] phone [PHONE] x"
    assert red[3] == df.collect()[0]["text"] or red[3].startswith("clean")
    assert red[4] == "two mails [EMAIL] [EMAIL] one ip [IP]"


def test_shared_window_pairs_exact(spark):
    from rdf_fusion_spark.pipeline.dedup import shared_window_pairs
    span = "one two three four five six seven eight"      # 8 tokens
    df = spark.createDataFrame(
        [(1, f"intro {span} outro"),
         (2, f"{span} and a different continuation here"),
         (3, "totally unrelated text with other words entirely plus"),
         (4, f"prefix {span} suffix {span}"),   # window dup within doc
         (5, "short doc")],                      # < k tokens → no windows
        "doc_id long, text string")
    rows = {(r["id_a"], r["id_b"]): r["n_shared"]
            for r in shared_window_pairs(df, k=8).collect()}
    # docs 1, 2, 4 all contain the identical 8-token span (distinct
    # windows per doc, so 4's internal repeat counts once)
    assert rows == {(1, 2): 1, (1, 4): 1, (2, 4): 1}


def test_minhash_survives_sub_shingle_docs(spark):
    """Regression: F.sequence(1, end) auto-descends for end < 1, so docs
    shorter than the shingle width used to crash element_at with
    ArrayIndexOutOfBounds; they must simply produce no shingles."""
    from rdf_fusion_spark.pipeline.dedup import minhash_lsh_pairs
    df = spark.createDataFrame(
        [(1, "word"), (2, "a b c d e f g"), (3, "a b c d e f g")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(df, 0.5).collect()}
    assert got == {(2, 3)}


def test_remove_shared_windows_transform(spark):
    """Span removal (Lee et al. 2022 ExactSubstr at window granularity):
    the min-id doc keeps the duplicated span, every other doc loses
    exactly the span's tokens, untouched docs round-trip."""
    from rdf_fusion_spark.pipeline.dedup import remove_shared_windows
    span = "one two three four five six seven eight"      # exactly k=8
    df = spark.createDataFrame(
        [(1, f"alpha beta {span} gamma"),
         (2, f"x y {span} z"),
         (3, "totally unique text here with no duplication at all"),
         (4, span)],                      # the whole doc IS the span
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_shared_windows(df).collect()}
    assert out[1]["deduped_text"] == f"alpha beta {span} gamma"   # canonical
    assert out[1]["n_removed_tokens"] == 0
    assert out[2]["deduped_text"] == "x y z"
    assert out[2]["n_removed_tokens"] == 8
    assert out[3]["n_removed_tokens"] == 0                        # untouched
    assert out[4]["deduped_text"] == "" and out[4]["n_removed_tokens"] == 8
    assert all(r["n_tokens"] - r["n_removed_tokens"]
               == (len(r["deduped_text"].split(" "))
                   if r["deduped_text"] else 0) for r in out.values())


def test_remove_shared_windows_overlapping_spans(spark):
    """Two overlapping duplicated spans with DIFFERENT canonical docs:
    removal is per-window deterministic (a keeper of one span may lose
    tokens to another span whose canonical doc is smaller)."""
    from rdf_fusion_spark.pipeline.dedup import remove_shared_windows
    s1 = "a b c d e f g h"                      # span 1, canonical: doc 1
    df = spark.createDataFrame(
        [(1, s1),                                # keeps s1
         (2, f"{s1} tail"),                      # loses s1 (and h..tail? no: windows are 8 tokens)
         (3, f"pre {s1}")],                      # loses s1
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_shared_windows(df).collect()}
    assert out[1]["n_removed_tokens"] == 0
    # doc 2: windows "a..h" (dup, canonical=1) and "b..tail" (unique)
    # -> only tokens covered SOLELY by the dup window go; b..h are also
    # covered by the unique window but removal is per covered token, so
    # a..h all go and "tail" stays
    assert out[2]["deduped_text"] == "tail"
    assert out[3]["deduped_text"] == "pre"


def test_remove_shared_windows_corpus_mode(spark):
    """mode='corpus' (paper-exact ExactSubstr): within-document repeats
    collapse to the globally first occurrence; cross-doc behavior is a
    superset of the default mode."""
    from rdf_fusion_spark.pipeline.dedup import remove_shared_windows
    span = "one two three four five six seven eight"      # exactly k=8
    df = spark.createDataFrame(
        [(1, f"{span} middle {span}"),       # within-doc repeat
         (2, f"pre {span} post")],           # cross-doc dup
        "doc_id long, text string")
    cross = {r["doc_id"]: r for r in remove_shared_windows(df).collect()}
    corp = {r["doc_id"]: r for r in
            remove_shared_windows(df, mode="corpus").collect()}
    # default mode: doc 1 keeps BOTH copies (within-doc repeats kept)
    assert cross[1]["n_removed_tokens"] == 0
    assert cross[2]["deduped_text"] == "pre post"
    # corpus mode: doc 1 keeps only the FIRST copy
    assert corp[1]["deduped_text"] == f"{span} middle"
    assert corp[1]["n_removed_tokens"] == 8
    assert corp[2]["deduped_text"] == "pre post"


def test_tfidf_top_terms(spark):
    """A term unique to one doc outranks corpus-ubiquitous terms."""
    import math
    from rdf_fusion_spark.pipeline.text import tfidf_top_terms
    df = spark.createDataFrame(
        [(1, "common rare"),
         (2, "common common common"),
         (3, "common other other")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): r for r in
           tfidf_top_terms(df, k=2).collect()}
    # doc 1: 'rare' (df=1) must beat 'common' (df=3) at equal tf
    d1 = sorted((k[1] for k in out if k[0] == 1))
    assert set(d1) == {"common", "rare"}
    r = out[(1, "rare")]
    assert r["tf"] == 1
    assert r["score"] == round(1 * (math.log((1 + 3) / (1 + 1)) + 1), 6)
    c = out[(1, "common")]
    assert c["tf"] == 1 and c["score"] == 1.0
    assert r["score"] > c["score"]


def test_bm25_topk_ranking(spark):
    """Hand-checked BM25: the doc matching the RARE query term outranks
    docs matching only the common one; scores match the closed form."""
    import math
    from rdf_fusion_spark.pipeline.text import bm25_topk, BM25_K1, BM25_B
    df = spark.createDataFrame(
        [(1, "alpha beta beta beta"),     # matches alpha (rare)
         (2, "beta beta beta beta"),      # matches beta only
         (3, "beta gamma gamma gamma"),   # matches beta only
         (4, "gamma gamma gamma gamma")], # no match
        "doc_id long, text string")
    rows = bm25_topk(df, "alpha beta", k=10).collect()
    got = {r["doc_id"]: r["score"] for r in rows}
    assert 4 not in got                   # no matching term, no row
    assert got[1] == max(got.values())    # rare-term doc wins
    # closed form for doc 2: tf(beta)=4, df(beta)=3, N=4, dl=avgdl=4
    idf = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    expect = idf * 4 * (BM25_K1 + 1) / (4 + BM25_K1 * (1 - BM25_B + BM25_B))
    assert got[2] == round(expect, 6)


def _brute_semantic_dedup(vecs, centroids, threshold):
    """Pure-Python SemDeDup reference: nearest centroid by cosine (ties
    -> lowest cid), then max cosine to any lower-id same-cluster vector."""
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    assign = {}
    for vid, v in vecs:
        best = max(((cos(v, cv), -cid) for cid, cv in centroids))
        assign[vid] = -best[1]
    out = {}
    for vid, v in vecs:
        sims = [cos(x, v) for xid, x in vecs
                if xid < vid and assign[xid] == assign[vid]]
        best = max(sims, default=None)
        keep = best is None or best < threshold
        out[vid] = (assign[vid], best, keep)
    return out


def test_semantic_dedup_matches_bruteforce(spark):
    import random
    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>")
    cent = similarity.kmeans_centroids(df, nlist=4, iters=2)
    got = {r.vec_id: (r.cluster, r.max_lower_sim, r.keep)
           for r in similarity.semantic_dedup(
               df, 0.5, nlist=4, centroids=cent).collect()}
    centroids = [(r.cid, list(r.cv)) for r in cent.collect()]
    want = _brute_semantic_dedup(vecs, centroids, 0.5)
    assert set(got) == set(want)
    for vid in want:
        wc, ws, wk = want[vid]
        gc, gs, gk = got[vid]
        assert gc == wc and gk == wk
        assert (gs is None) == (ws is None)
        if ws is not None:
            assert abs(gs - ws) < 1e-9


def test_semantic_dedup_exact_duplicates_keep_lowest_id(spark):
    v = [0.5, -0.25, 1.0, 0.0]
    df = spark.createDataFrame(
        [(0, v), (1, v), (2, [1.0, 1.0, -1.0, 0.5]), (3, v)],
        "vec_id long, embedding array<double>")
    out = {r.vec_id: r.keep for r in
           similarity.semantic_dedup(df, 0.999, nlist=2).collect()}
    # 0 is the first copy -> kept; 1 and 3 are duplicates of 0 -> dropped
    assert out == {0: True, 1: False, 2: True, 3: False}


def test_semantic_dedup_cluster_cap_mega_cluster(spark, caplog):
    """Round-8 verdict: one degenerate k-means cluster (mega-clique of
    exact duplicates) must not run an unbounded within-cluster all-pairs.
    With the cap, an exact-duplicate mega-cluster still dedups COMPLETELY
    (the lowest id is within the cap and suppresses everyone at sim 1.0),
    and the excluded suppressor-membership count is logged."""
    import logging
    v = [1.0, 0.5, -0.25, 0.0]
    n = 40
    rows = [(i, v) for i in range(n)] + [(1000, [-1.0, 1.0, 0.5, 0.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with caplog.at_level(logging.WARNING,
                         logger="rdf_fusion_spark.pipeline.similarity"):
        got = {r.vec_id: r.keep for r in
               similarity.semantic_dedup(df, 0.999, nlist=2,
                                         cluster_cap=8).collect()}
    uncapped = {r.vec_id: r.keep for r in
                similarity.semantic_dedup(df, 0.999, nlist=2,
                                          cluster_cap=None).collect()}
    # the mega-cluster dedups identically with and without the cap
    assert got == uncapped
    assert got[0] is True and got[1000] is True
    assert all(got[i] is False for i in range(1, n))
    # exact dropped-mass accounting: the (40 - 8) = 32 excluded
    # suppressor memberships are reported, never silent
    assert any("32 cluster memberships beyond the 8-per-cluster cap"
               in r.message for r in caplog.records)


def _under_cap_semantic(spark, cap):
    import random
    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>")
    cent = similarity.kmeans_centroids(df, nlist=4, iters=2)
    return {r.vec_id: (r.cluster, r.max_lower_sim, r.keep)
            for r in similarity.semantic_dedup(
                df, 0.5, centroids=cent, cluster_cap=cap).collect()}


def _under_cap_minhash(spark, cap):
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different words entirely here now"),
            (3, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted(map(tuple, dedup.minhash_lsh_pairs(
        df, 0.5, bucket_cap=cap).collect()))


@pytest.mark.parametrize("run", [_under_cap_semantic, _under_cap_minhash],
                         ids=["semantic_dedup", "minhash_lsh_pairs"])
def test_semantic_dedup_cap_gate_skips_window_when_under_cap(spark, run):
    """Under-cap corpora must take the cheap gate path — no rank window
    beyond those of the uncapped call in any job the call runs, eager
    build jobs included — and return exactly the uncapped result. A cap
    of 1 is the control: it trips the gate, and the same observation
    sees the extra window. Windows are counted by distinct plan text, as
    a cached subtree shows up again in every job that reads it."""
    def run_counting_windows(cap):
        with _executed_plans(spark) as plans:
            out = run(spark, cap)
        return out, len({n.desc for p in plans for n in p.values()
                         if n.name == "Window"})

    capped, capped_windows = run_counting_windows(4096)
    uncapped, uncapped_windows = run_counting_windows(None)
    assert capped == uncapped
    assert capped_windows == uncapped_windows
    assert run_counting_windows(1)[1] > uncapped_windows


def test_semantic_dedup_cap_blind_spot_quantified(spark, caplog):
    """Quantifies the cap's ONE documented blind spot (r9 verdict #3): a
    beyond-cap row whose only above-threshold matches are other
    beyond-cap rows is under-deduped. Crafted worst case: cap=4, one
    cluster of 10 — ids 0-3 (within cap) mutually dissimilar and
    dissimilar to everything, ids 4-9 a 6-clique of exact duplicates.
    Every duplicate pair lives entirely beyond the cap, so the capped
    run keeps ALL of them while the uncapped run keeps only id 4: the
    miss count is clique_size - 1 = 5 of the 6 excluded suppressor
    memberships the log reports. That is the contract's ceiling — a
    single blind clique retains at most (excluded memberships - 1)
    duplicates; any within-cap match (the mega-cluster test) drops the
    miss count to zero."""
    import logging
    dup = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, [0.0, 1.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 1.0]), (3, [0.0, 0.6, -0.8, 0.0])] + \
           [(i, dup) for i in range(4, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame([(0, [1.0, 1.0, 1.0, 1.0])],
                                 "cid long, cv array<double>")
    with caplog.at_level(logging.WARNING,
                         logger="rdf_fusion_spark.pipeline.similarity"):
        capped = {r.vec_id: r.keep for r in
                  similarity.semantic_dedup(df, 0.9, centroids=cent,
                                            cluster_cap=4).collect()}
    uncapped = {r.vec_id: r.keep for r in
                similarity.semantic_dedup(df, 0.9, centroids=cent,
                                          cluster_cap=None).collect()}
    # ground truth: the 6-clique keeps its first member only
    assert uncapped == {0: True, 1: True, 2: True, 3: True, 4: True,
                        5: False, 6: False, 7: False, 8: False, 9: False}
    # blind spot: the capped run misses EVERY beyond-cap duplicate
    assert capped == {i: True for i in range(10)}
    missed = sum(1 for i in capped if capped[i] and not uncapped[i])
    assert missed == 5
    # the dropped mass the log reports (6 memberships: ids 4-9) bounds
    # the miss (<= excluded - 1 per blind clique) and is never silent
    assert any("6 cluster memberships beyond the 4-per-cluster cap"
               in r.message for r in caplog.records)


def test_sessionize_sliced_equals_plain(spark):
    """The hot-key escalation (sessions.py sessionize_sliced) must be
    row-for-row identical to the plain single-window sessionize —
    including sessions spanning slice boundaries, a gap EXACTLY equal to
    the threshold (merges: the rule is strictly-greater splits), single-
    event slices chaining merges across 3+ slices, and duplicate
    timestamps. slice_minutes is chosen coprime-ish to the gap so
    boundaries land mid-session constantly."""
    import datetime
    import random
    from rdf_fusion_spark.pipeline.sessions import (sessionize,
                                                    sessionize_sliced)
    rng = random.Random(42)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for user in range(1, 5):
        t = 0
        for _ in range(rng.randrange(30, 80)):
            # mix sub-gap steps, exact-gap steps (300 s), and splits
            t += rng.choice([0, 30, 90, 299, 300, 301, 1200, 5000])
            rows.append((user, base + datetime.timedelta(seconds=t)))
    # a dedicated chain: single events exactly gap-apart straddling many
    # 7-minute slice boundaries -> one long merged session
    t0 = 100_000
    for i in range(12):
        rows.append((9, base + datetime.timedelta(seconds=t0 + i * 300)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    plain = sessionize(df, gap_minutes=5)
    sliced = sessionize_sliced(df, gap_minutes=5, slice_minutes=7)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, sliced.collect()))
    assert a == b
    # sanity: the crafted chain is ONE session in both
    chain = {r.session_id for r in sliced.where("user_id = 9").collect()}
    assert chain == {1}
