"""Pure-Python Aho-Corasick automaton for batched dictionary matching.

Built once per executor from the broadcast alias dictionary (the Spark
analog of the reference's label/synonym statements — rdfs:label 10,576 +
oio:*Synonym ~6,900 rows in outputs_test statements.parquet; SURVEY.md
§2.3 "alias-dictionary match"). pyahocorasick isn't in the image, so
this is a dict-of-dicts trie with BFS failure links; matching is
O(len(text) + matches), independent of dictionary size — the property
that makes mention detection scale to millions of aliases where a
regex-alternation would not.

Word-boundary semantics: a hit counts only if not flanked by [a-z0-9]
(applied on the casefolded haystack), mirroring whole-word term mentions.
"""

from __future__ import annotations


class AhoCorasick:
    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: list[str]):
        # goto: list of dict char->state; out: list of list of pattern idx
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for idx, pat in enumerate(patterns):
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            self.out[state].append(idx)
        # failure links via BFS
        self.fail = [0] * len(self.goto)
        queue = list(self.goto[0].values())
        for s in queue:
            self.fail[s] = 0
        head = 0
        while head < len(queue):
            r = queue[head]
            head += 1
            for ch, s in self.goto[r].items():
                queue.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                if self.fail[s] == s:
                    self.fail[s] = 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def find(self, text: str, pattern_lens: list[int]) -> list[tuple[int, int]]:
        """Yield (pattern_idx, start_offset) for every occurrence."""
        res = []
        state = 0
        goto, fail, out = self.goto, self.fail, self.out
        for i, ch in enumerate(text):
            while state and ch not in goto[state]:
                state = fail[state]
            state = goto[state].get(ch, 0)
            if out[state]:
                for pidx in out[state]:
                    res.append((pidx, i - pattern_lens[pidx] + 1))
        return res


_WORDCH = set("abcdefghijklmnopqrstuvwxyz0123456789")


class ScanFind:
    """Small-dictionary fast path: per-pattern C-speed ``str.find``
    scans. ``find()`` contract identical to AhoCorasick — EVERY
    occurrence of every pattern, overlapping and nested included
    (restart at start+1, so 'aa' in 'aaa' hits twice) — only the emit
    order differs, and every consumer aggregates into counts. The
    pure-Python AC walks the haystack one character at a time in the
    interpreter (O(n) dict lookups per document — the measured wall of
    the mention stage); str.find runs the whole scan in C, so for P
    patterns the cost is P fast scans instead of one slow one. The
    crossover favours AC only for large dictionaries, hence the
    build-site guard."""

    __slots__ = ("patterns",)

    def __init__(self, patterns: list[str]):
        self.patterns = patterns

    def find(self, text: str, pattern_lens: list[int]) -> list[tuple[int, int]]:
        res = []
        for pidx, pat in enumerate(self.patterns):
            start = text.find(pat)
            while start != -1:
                res.append((pidx, start))
                start = text.find(pat, start + 1)
        return res


# Below this many patterns, P C-speed scans beat one interpreted AC
# walk (measured on 3KB docs: 21x at P=8, 2.4x at P=64, parity near
# P~200). Above it, AC's dictionary-size independence wins.
SCAN_FIND_MAX_PATTERNS = 128


def build_automaton(patterns: list[str]):
    """Per-pattern C find-scans for small dictionaries; else the
    pure-Python trie."""
    if len(patterns) <= SCAN_FIND_MAX_PATTERNS:
        return ScanFind(patterns)
    return AhoCorasick(patterns)


def find_word_bounded(
    ac, text_norm: str, patterns: list[str], pattern_lens: list[int]
) -> list[tuple[int, int]]:
    """Occurrences of patterns in casefolded text, whole-word only."""
    hits = []
    n = len(text_norm)
    for pidx, start in ac.find(text_norm, pattern_lens):
        end = start + pattern_lens[pidx]
        if start > 0 and text_norm[start - 1] in _WORDCH:
            continue
        if end < n and text_norm[end] in _WORDCH:
            continue
        hits.append((pidx, start))
    return hits
