"""Word-level Aho–Corasick multi-pattern matcher (pure Python, driver-built).

Re-expresses the reference's goto/failure/output automaton over a word-ID
alphabet (build: PatternMatchingMachine.java:6373-6389 `enter`,
6293-6335 `constructFailureFunction`; scan: 1906-1984) as a compact
dict-transition machine built ONCE on the driver from the broadcast
lexicon and shipped to executors via `SparkContext.broadcast`. Matching
runs inside batched pandas UDFs — one Python automaton walk per document,
never per-row Python UDF registration.

Semantics implemented (the reference's *intended* behavior, SURVEY.md §7):
  - multi-word patterns over whitespace-ish tokens,
  - all matches found in one O(n) scan via failure links,
  - maximal-match filtering: a match strictly contained in a longer
    overlapping match is dropped (the reference's `curEntity.contains
    (preEntity)` subsumption at PatternMatchingMachine.java:1931-1949);
    the reference's partial-dedupe quirk (`pos == -1` bug at :6398-6400)
    is NOT copied.

Scale note: the automaton is built from the ontology vocabulary (a dim,
~10M surfaces upper bound in the reference). At that size the pickled
automaton is a few hundred MB — still broadcastable; for larger lexicons
the fallback is the pure broadcast-join token matcher in
operators/linking.py which needs no driver-side structure.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

_TOKEN_RE = re.compile(r"[^\s,;:()\[\]{}'\"]+")


def tokenize(text: str) -> list[str]:
    """Lowercased word tokens; dotted identifiers stay one token."""
    return [t for t in _TOKEN_RE.findall(text.lower())]


# --- G13: sentence detection (SentParDetector analog) -------------------
# Re-expresses the core split rule of
# dicgenerator/SentParDetector.java:markupRawText (:92-115): a sentence
# boundary is [.?!] (plus optional closing quote/bracket) followed by
# whitespace and an uppercase letter / digit / quote / open paren —
# UNLESS the terminator belongs to a protected abbreviation (the
# reference's Mr./Dr./month/unit/latin lists, :104-117) or a single
# capital initial ("A."). Paragraph breaks (blank lines) always split
# (:92-93). The reference's SGML <p>/<s> markup, title handling and
# bracket-clearing passes are presentation concerns we drop — the
# OUTPUT here is the sentence list the AC scan iterates
# (PatternMatchingMachine.java:1893,1906).
_ABBREV = {
    "mr", "mrs", "dr", "prof", "ms", "sir", "sr", "st", "mt", "gov",
    "sgt", "sen", "capt", "lt", "gen", "lieut", "col", "cap", "esg",
    "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep", "sept",
    "oct", "nov", "dec", "ltd", "mon", "tue", "wed", "thu", "thur",
    "fri", "sat", "sun", "max", "min", "kg", "ft", "oz", "gm", "lb",
    "fig", "ref", "co", "al", "pp", "vs", "eg", "e.g", "i.e", "ie",
    "usu", "ad", "ed", "eds", "yr", "yrs", "etc", "no",
}
_SENT_END = re.compile(r"[.?!][\"')\]]*\s+(?=[A-Z0-9\"'(])")
_LAST_WORD = re.compile(r"([A-Za-z][A-Za-z.]*)[.?!]+[\"')\]]*$")


def split_sentences(text: str) -> list[str]:
    """Sentence list per the SentParDetector split rule (see above)."""
    out: list[str] = []
    for para in re.split(r"\n\s*\n", text):
        start = 0
        for m in _SENT_END.finditer(para):
            seg_txt = para[start:m.end()].rstrip()
            # abbreviations only ever end in '.' — a '?' or '!' terminator
            # is always a real boundary ("Loads were at max!" must split
            # even though "max" is in the unit list)
            lw = _LAST_WORD.search(seg_txt)
            word, ends_in_period = ("", False)
            if lw:
                word = lw.group(1)
                ends_in_period = seg_txt[lw.end(1):].startswith(".")
            if ends_in_period and (
                word.lower() in _ABBREV or re.fullmatch(r"[A-Z]", word)
            ):
                continue  # protected abbreviation / initial — no break
            seg = para[start:m.end()].strip()
            if seg:
                out.append(seg)
            start = m.end()
        tail = para[start:].strip()
        if tail:
            out.append(tail)
    return out


class AhoCorasick:
    """goto/failure/output automaton over word tokens.

    States are ints; ``goto`` is a list of dicts token→state; ``out`` maps
    state → longest pattern length ending there (plus all lengths, for
    completeness); ``fail`` is the failure function.
    """

    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: Iterable[str]):
        # --- enter() each pattern into the trie ---
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]  # pattern word-lengths ending at state
        for pat in patterns:
            words = pat.split()
            if not words:
                continue
            s = 0
            for w in words:
                nxt = self.goto[s].get(w)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[s][w] = nxt
                s = nxt
            if len(words) not in self.out[s]:
                self.out[s].append(len(words))

        # --- BFS failure function ---
        self.fail = [0] * len(self.goto)
        queue: list[int] = []
        for s in self.goto[0].values():
            queue.append(s)
        qi = 0
        while qi < len(queue):
            r = queue[qi]
            qi += 1
            for tok, u in self.goto[r].items():
                queue.append(u)
                f = self.fail[r]
                while f and tok not in self.goto[f]:
                    f = self.fail[f]
                self.fail[u] = self.goto[f].get(tok, 0)
                if self.fail[u] == u:
                    self.fail[u] = 0
                # merge outputs from the failure target
                for ln in self.out[self.fail[u]]:
                    if ln not in self.out[u]:
                        self.out[u].append(ln)

    def _raw_matches(self, tokens: list[str]) -> list[tuple[int, int]]:
        """All (start, end_exclusive) pattern occurrences, token indices."""
        res: list[tuple[int, int]] = []
        s = 0
        for i, tok in enumerate(tokens):
            while s and tok not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(tok, 0)
            for ln in self.out[s]:
                res.append((i + 1 - ln, i + 1))
        return res

    def find(self, tokens: list[str]) -> list[tuple[int, int, str]]:
        """Maximal matches: (start, end, surface). Contained matches dropped."""
        raw = self._raw_matches(tokens)
        if not raw:
            return []
        raw.sort(key=lambda m: (m[0], -(m[1])))
        kept: list[tuple[int, int]] = []
        for st, en in raw:
            if any(ks <= st and en <= ke and (ks, ke) != (st, en) for ks, ke in kept):
                continue
            kept.append((st, en))
        # second pass: a longer match added later may subsume an earlier one
        maximal = [
            (st, en)
            for st, en in kept
            if not any(
                ks <= st and en <= ke and (ks, ke) != (st, en) for ks, ke in kept
            )
        ]
        return [(st, en, " ".join(tokens[st:en])) for st, en in sorted(maximal)]

    def find_text(self, text: str) -> list[str]:
        return [surf for _, _, surf in self.find(tokenize(text))]
