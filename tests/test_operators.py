"""Unit tests: linking/disambiguation, dedup, similarity, streaming."""

import numpy as np
import pyspark.sql.functions as F

from entitysummarization_spark.operators import dedup, linking, similarity


def test_detect_mentions_counts(spark):
    docs = spark.createDataFrame(
        [(1, "spark join spark hash value x"), (2, "nothing here")],
        "doc_id long, text string",
    )
    m = linking.detect_mentions(
        spark, docs, ["spark", "join", "hash value"]
    ).toPandas()
    got = {(r["id"], r["surface"]): r["freq"] for _, r in m.iterrows()}
    assert got == {(1, "spark"): 2, (1, "join"): 1, (1, "hash value"): 1}


def test_link_candidates_weight(spark):
    mentions = spark.createDataFrame(
        [(1, "list", 2)], "id long, surface string, freq long"
    )
    vocab = spark.createDataFrame(
        [("list", 10, 1, "java.util.List"), ("list", 20, 5, "other.List")],
        "surface string, entity_id long, attr int, entity_name string",
    )
    c = linking.link_candidates(mentions, vocab).toPandas()
    assert len(c) == 2
    w = {r["entity_id"]: r["weight"] for _, r in c.iterrows()}
    # attr 1 (conf 1.0, freq 2): 1 - 1/3; attr 5 (conf .4): 1 - 1/1.8
    assert abs(w[10] - (1 - 1 / 3)) < 1e-6
    assert abs(w[20] - (1 - 1 / 1.8)) < 1e-6
    assert w[10] > w[20]


def test_ngd_closed_form(spark):
    # entities A,B share 2 of (3,3) inlinks; W=6 distinct sources
    rows = [("A", s) for s in [1, 2, 3]] + [("B", s) for s in [2, 3, 4]] + [
        ("C", s) for s in [5, 6]
    ]
    links = spark.createDataFrame(rows, "entity string, src long")
    out = linking.ngd_relatedness(links, "entity", "src").toPandas()
    ab = out[(out.ent_a == "A") & (out.ent_b == "B")].iloc[0]
    expected = 1 - (np.log(3) - np.log(2)) / (np.log(6) - np.log(3))
    assert abs(ab["sr"] - round(expected, 4)) < 1e-9
    assert ab["n_common"] == 2


def test_disambiguate_prefers_context(spark):
    # doc 1 mentions ambiguous "x" (entities 10, 20) + unambiguous ctx 30;
    # entity 20 is related to 30 → should win despite equal attr.
    cands = spark.createDataFrame(
        [
            (1, "x", 10, 4, 1, 0.5),
            (1, "x", 20, 4, 1, 0.5),
            (1, "ctx", 30, 1, 1, 0.9),
        ],
        "id long, surface string, entity_id long, attr int, freq long, weight double",
    )
    rel = spark.createDataFrame(
        [(20, 30, 0.8)], "ent_a long, ent_b long, sr double"
    )
    out = linking.disambiguate(cands, rel).toPandas()
    x = out[out.surface == "x"]
    assert len(x) == 1 and x.iloc[0]["entity_id"] == 20


def test_exact_dedup_groups(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(docs).toPandas().sort_values("keeper_id")
    assert list(out["keeper_id"]) == [1, 3]
    assert list(out["n_copies"]) == [2, 1]


def test_shingles_short_doc(spark):
    docs = spark.createDataFrame([(1, "a b"), (2, "a b c d")], "doc_id long, text string")
    sh = dedup.shingles(docs, 3).toPandas()
    assert set(sh[sh.id == 1]["shingle"]) == set()
    assert set(sh[sh.id == 2]["shingle"]) == {"a b c", "b c d"}


def test_simhash_similar_docs_close(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r["simhash"] for r in dedup.simhash_md5(docs).collect()}
    d12 = bin((out[1] ^ out[2]) & (2**64 - 1)).count("1")
    d13 = bin((out[1] ^ out[3]) & (2**64 - 1)).count("1")
    assert d12 < d13


def test_cosine_topk_self_excluded_and_exact(spark):
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.7, 0.7]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).toPandas()
    assert list(out.sort_values("rank")["neighbor_id"]) == [1, 3]


def test_lsh_recall_against_bruteforce(spark):
    # clustered vectors (realistic embeddings): 4 centers + small noise
    rng = np.random.RandomState(3)
    centers = rng.randn(4, 16) * 3
    base = np.vstack([centers[i % 4] + 0.3 * rng.randn(16) for i in range(24)])
    rows = [(i, [float(x) for x in base[i]]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = similarity.cosine_topk(emb, emb, k=3).toPandas()
    approx = similarity.lsh_bucketed_topk(
        emb, dim=16, k=3, n_planes=6, n_tables=4
    ).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall > 0.8, recall


def test_streaming_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    import os

    from entitysummarization_spark.streaming.events import (
        run_stream_once,
        stream_events_from_parquet,
        windowed_event_counts,
    )

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = windowed_event_counts(batch).toPandas()
    # the streaming file source wants a directory
    os.symlink(f"{sf_dir}/events.parquet", tmp_path / "part-0.parquet")
    stream = stream_events_from_parquet(spark, str(tmp_path))
    assert stream.isStreaming
    got = run_stream_once(
        windowed_event_counts(stream, watermark="2 hours"), "wc_test"
    ).toPandas()
    key = ["window_start_s", "event_type"]
    assert (
        got.sort_values(key, ignore_index=True)[["window_start_s", "event_type", "n"]]
        .equals(expected.sort_values(key, ignore_index=True)[["window_start_s", "event_type", "n"]])
    )
