"""Extraction parity (SURVEY.md §5 items 1,3) + AC matcher property tests."""

import numpy as np
import pandas as pd

from entitysummarization_spark.functions.automaton import AhoCorasick, tokenize
from entitysummarization_spark.operators import extraction
from entitysummarization_spark.operators.extraction import (
    extract_triples,
    extract_triples_pdf,
    _valid_name,
)


def test_extraction_matches_golden(spark, fixture_small):
    fx = fixture_small
    repos = spark.createDataFrame(fx.repos)
    got = extract_triples(spark, repos, fx.vocab).select("subj", "pred", "obj")
    gs = set(map(tuple, got.toPandas().values))
    es = set(map(tuple, fx.expected_triples[["subj", "pred", "obj"]].values))
    assert gs == es  # P/R = 1.0 on the deterministic stage


def test_extraction_shares_one_broadcast(spark, fixture_small, monkeypatch):
    """Two calls with the same vocab share one automaton broadcast; with
    no vocab nothing is broadcast."""
    fx = fixture_small
    repos = spark.createDataFrame(fx.repos.head(5))
    ids = []
    cached = extraction.cached_broadcast

    def spy(*args):
        bc = cached(*args)
        ids.append(bc._jbroadcast.id())
        return bc

    monkeypatch.setattr(extraction, "cached_broadcast", spy)
    extract_triples(spark, repos, fx.vocab)
    extract_triples(spark, repos, fx.vocab.copy())
    assert len(ids) == 2 and ids[0] == ids[1]

    sc = spark.sparkContext
    made = []
    broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast",
                        lambda v: made.append(v) or broadcast(v))
    plain = extract_triples(spark, repos)
    assert made == [] and len(ids) == 2
    assert plain.count() == len(extract_triples_pdf(fx.repos.head(5), None,
                                                    None))


def test_stop_imports_filtered():
    batch = pd.DataFrame(
        {
            "repo": ["r"],
            "path": ["p.py"],
            "commit": ["c"],
            "content": ["import sys\nimport numpy.core\nimport os\n"],
        }
    )
    out = extract_triples_pdf(batch, None, None)
    assert list(out["obj"]) == ["numpy.core"]


def test_name_validity_filters():
    assert not _valid_name("ab")       # too short (F6)
    assert not _valid_name("123")      # numeric
    assert not _valid_name("'quoted")  # bad leading char
    assert not _valid_name("a?b+c")    # forbidden chars
    assert _valid_name("java.util.List")


def test_ac_matcher_vs_bruteforce():
    """AC maximal matches == brute-force maximal matches on random lexicons."""
    rng = np.random.RandomState(0)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    for trial in range(20):
        n_pat = rng.randint(1, 8)
        pats = set()
        for _ in range(n_pat):
            ln = rng.randint(1, 4)
            pats.add(" ".join(words[rng.randint(len(words))] for _ in range(ln)))
        pats = sorted(pats)
        text_tokens = [words[rng.randint(len(words))] for _ in range(30)]
        ac = AhoCorasick(pats)
        got = set(ac.find(text_tokens))

        # brute force: all occurrences, then drop strictly-contained spans
        raw = []
        for p in pats:
            pw = p.split()
            for i in range(len(text_tokens) - len(pw) + 1):
                if text_tokens[i : i + len(pw)] == pw:
                    raw.append((i, i + len(pw)))
        maximal = {
            (s, e, " ".join(text_tokens[s:e]))
            for s, e in raw
            if not any(
                (s2 <= s and e <= e2 and (s2, e2) != (s, e)) for s2, e2 in raw
            )
        }
        assert got == maximal, f"trial {trial}: {pats}"


def test_ac_longest_match_subsumption():
    ac = AhoCorasick(["new york", "new york city", "york"])
    toks = tokenize("i love New York City a lot")
    assert [m[2] for m in ac.find(toks)] == ["new york city"]


def test_multiword_mentions_in_comments():
    ac = AhoCorasick(["linked list", "hash map"])
    s2n = {"linked list": "java.util.List", "hash map": "java.util.Map"}
    batch = pd.DataFrame(
        {
            "repo": ["r"],
            "path": ["p.py"],
            "commit": ["c"],
            "content": ["# uses a linked list, then a hash map\nx = 1\n"],
        }
    )
    out = extract_triples_pdf(batch, ac, s2n)
    assert set(zip(out["pred"], out["obj"])) == {
        ("mentions", "java.util.List"),
        ("mentions", "java.util.Map"),
    }
