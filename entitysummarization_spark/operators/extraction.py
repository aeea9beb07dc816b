"""Triple extraction from source files — the reference's S1+F1–F5 analog.

The reference issues one SPARQL query per entity
(src/esum/EntityProc.java:307-313) and filters triples row-by-row
(:329-331, predicate stoplist :260-277, local-name projection :322-337).
Here a single distributed scan of the repos table replaces N point
queries: ``repos.mapInPandas(extract)`` emits (subj, pred, obj) rows with
provenance, Arrow-batched — no per-row Python UDFs.

Predicates for source code (FIXTURES.md §4): imports, defines, calls,
mentions. Filters applied at extraction time (pushdown analog):
  - stop-import list  (F1 analog, EntityProc.java:260-277)
  - numeric / too-short objects (F6 analog, DictionaryGenerator.java:1255-1292)
  - comment noise never emitted (F2 literal-object analog)

Scale: stateless map — no shuffle; parallelism = input splits. The mention
automaton is built on the driver from the (dim-sized) vocabulary and
broadcast once.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.automaton import AhoCorasick, tokenize
from .linking import cached_broadcast

# the surface tiers mention detection uses: title and redirect, the
# high-confidence tiers of Entity.java:12-18
MENTION_MAX_ATTR = 2

TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, repo string, path string, commit string"
)

_IMPORT_RE = re.compile(r"^import\s+([\w.]+)\s*$")
_FROM_IMPORT_RE = re.compile(r"^from\s+([\w.]+)\s+import\s+[\w.]+\s*$")
_DEF_RE = re.compile(r"^def\s+(\w+)\s*\(")
_CALL_RE = re.compile(r"([A-Za-z_][\w.]*)\.(\w+)\(")

STOP_IMPORTS = frozenset({"__future__", "sys", "os"})

def _valid_name(obj: str) -> bool:
    """F6 name-validity analog: length ≥3, not numeric, sane leading char."""
    if len(obj) < 3 or obj[0] in "'!&" or obj.replace(".", "").isdigit():
        return False
    return not any(c in obj for c in "?%+")


def extract_triples_pdf(
    batch: pd.DataFrame,
    automaton: AhoCorasick | None,
    surface_to_name: dict[str, str] | None,
) -> pd.DataFrame:
    """Pure-pandas extraction over one Arrow batch (testable without Spark)."""
    out: list[tuple[str, str, str, str, str, str]] = []
    for repo, path, commit, content in zip(
        batch["repo"], batch["path"], batch["commit"], batch["content"]
    ):
        subj = f"{repo}/{path}"
        seen: set[tuple[str, str]] = set()

        def emit(pred: str, obj: str, *, _subj=subj, _r=repo, _p=path, _c=commit,
                 _seen=seen):
            if _valid_name(obj) and (pred, obj) not in _seen:
                _seen.add((pred, obj))
                out.append((_subj, pred, obj, _r, _p, _c))

        for line in content.split("\n"):
            stripped = line.strip()
            if stripped.startswith("#"):
                if automaton is not None:
                    for surf in automaton.find_text(stripped[1:]):
                        name = (surface_to_name or {}).get(surf, surf)
                        emit("mentions", name)
                continue
            m = _IMPORT_RE.match(stripped) or _FROM_IMPORT_RE.match(stripped)
            if m:
                if m.group(1) not in STOP_IMPORTS:
                    emit("imports", m.group(1))
                continue
            m = _DEF_RE.match(stripped)
            if m:
                emit("defines", m.group(1))
                continue
            # a call match needs both characters; the check is ~50× cheaper
            # than the regex, which backtracks on every line
            if "(" not in stripped or "." not in stripped:
                continue
            for m in _CALL_RE.finditer(stripped):
                base = m.group(1)
                if "." in base:  # dotted receiver → call on an entity
                    emit("calls", base)
    return pd.DataFrame(
        out, columns=["subj", "pred", "obj", "repo", "path", "commit"]
    )


def extract_triples(
    spark: SparkSession,
    repos: DataFrame,
    vocab: pd.DataFrame | None = None,
) -> DataFrame:
    """repos(repo,path,commit,lang,content) → triples DataFrame.

    ``vocab`` (surface, entity_id, attr, entity_name) drives mention
    detection; attr ≤ ``MENTION_MAX_ATTR`` surfaces participate.
    """
    bc = None
    if vocab is not None:
        sub = vocab[vocab["attr"] <= MENTION_MAX_ATTR]
        patterns = [" ".join(tokenize(s)) for s in sub["surface"]]
        s2n = dict(zip(patterns, sub["entity_name"]))
        # one broadcast per (SparkContext, lexicon), as in linking.py
        bc = cached_broadcast(
            spark, ("extract", tuple(patterns), tuple(sorted(s2n.items()))),
            lambda: (AhoCorasick(patterns), s2n))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, m = bc.value if bc is not None else (None, None)
        for b in batches:
            yield extract_triples_pdf(b, a, m)

    return repos.mapInPandas(run, schema=TRIPLE_SCHEMA)
